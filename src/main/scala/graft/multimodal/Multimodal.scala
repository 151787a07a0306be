package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.security.MessageDigest
import javax.imageio.ImageIO
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One decoded media item's metadata. */
final case class MediaMeta(doc_id: Long, n_bytes: Long, format: String,
                           width: Long, height: Long, sha: String)

/** A binary media payload with typed metadata. */
final case class BinaryDoc(doc_id: Long, payload: Array[Byte], format: String)

/** One video frame: a real PNG payload at (doc_id, frame_idx). */
final case class BinaryFrame(doc_id: Long, frame_idx: Int, payload: Array[Byte])

/** One audio clip: an unsigned-8-bit PCM payload (the deterministic-fake
  * decode stand-in — no audio codec exists in this container; the
  * Spark-side plumbing over the binary column is the real part). */
final case class AudioClip(doc_id: Long, payload: Array[Byte])

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, decoded per-partition.
  *
  * The decoder is REAL: `decodePartition` parses actual codec containers
  * with the JDK's `javax.imageio` (PNG/BMP/GIF readers ship with the JRE —
  * no external codec libraries needed), recovering width/height/format from
  * the encoded bytes. Payloads no installed reader recognizes (e.g. raw
  * text bytes) fall through to a deterministic raw-branch signature — the
  * un-decodable branch every production media pipeline also carries. The
  * surrounding shape is the 100-TB one: binary column + format tag, typed
  * `Dataset[BinaryDoc]`, `mapPartitions` with the codec context constructed
  * once per partition, and a typed `MediaMeta` result that downstream
  * queries treat as an ordinary table.
  */
object Multimodal {

  /** Stand-in binary corpus: the documents' UTF-8 bytes tagged as a raw
    * (non-image) format. With real data this would be `spark.read.format(
    * "binaryFile")` or a parquet column of encoded frames. */

  /** Codec synthesis/decode is the expensive per-row step in every
    * pipeline below — spread the id stream across all executor threads
    * regardless of how narrow the upstream scan arrived (the shuffled rows
    * are bare ids/payload seeds; at real scale the media table is already
    * many-way partitioned and this is a no-op by size). */
  private def widened(docs: DataFrame): DataFrame =
    docs.repartition(
      docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)

  def binaryDocs(docs: DataFrame): DataFrame =
    widened(docs).select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      lit("fake/raw").as("format"))

  // -------- per-partition PNG codec context (round-16 optimization) -----
  //
  // The images here are tiny (≤ 16×13), so the per-IMAGE fixed cost of
  // `ImageIO.read`/`ImageIO.write` dominates: each call re-sniffs the
  // reader/writer registry and allocates stream wrappers, and the registry
  // walk serializes across the 32 executor threads (profiled: 29.7 task-s
  // at 6.9 CPU-s on mm_scene_cuts — the gap is blocked threads). A single
  // PNG reader/writer per PARTITION (the same once-per-task rule as the
  // digest in decodePartition) goes through the identical PNGImageReader/
  // PNGImageWriter, so the bytes and decoded pixels are bit-identical;
  // only the per-call registry/stream overhead is gone. decodePartition
  // deliberately KEEPS the sniffing path — it is the format-dispatch
  // representative (mixed/corrupt tags are its contract).

  private def newPngWriter(): javax.imageio.ImageWriter =
    ImageIO.getImageWritersByFormatName("png").next()

  private def newPngReader(): javax.imageio.ImageReader =
    ImageIO.getImageReadersByFormatName("png").next()

  /** Encode through a reused writer — same PNGImageWriter as
    * `ImageIO.write(img, "png", bos)`, without the per-call registry walk
    * and output-stream re-wrap. */
  private def writePng(writer: javax.imageio.ImageWriter,
                       img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream(1024)
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(img)
    ios.close()
    bos.toByteArray
  }

  /** Decode through a reused reader — same PNGImageReader as
    * `ImageIO.read`, without the per-call sniff (payloads on these paths
    * are always our own PNG frames). */
  private def readPng(reader: javax.imageio.ImageReader,
                      payload: Array[Byte]): BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new ByteArrayInputStream(payload))
    try {
      reader.setInput(iis, true, true)
      reader.read(0)
    } finally iis.close()
  }

  /** Fresh TYPE_INT_RGB image + its backing int raster: filling the raster
    * array directly stores exactly what setRGB stores for this type (the
    * 24-bit RGB word — callers mask to 0xffffff), minus setRGB's per-pixel
    * boxing through ColorModel.getDataElements. */
  private def rgbImage(w: Int, h: Int): (BufferedImage, Array[Int]) = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val px = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    (img, px)
  }

  /** Deterministic tiny-image dimensions per doc — the ground truth the
    * decode oracle recomputes from doc_id alone (primes keep w and h
    * decorrelated across ids). */
  def pngDims(docId: Long): (Int, Int) =
    (4 + (docId % 13).toInt, 3 + (docId % 11).toInt)

  /** Synthesize a REAL PNG per document: a wxh RGB image whose pixels are a
    * deterministic function of (doc_id, x, y), encoded through the JDK PNG
    * writer on the executors (map-side, no shuffle). The payload column
    * then carries genuine codec containers, so the decode path must parse
    * real IHDR headers to recover the dimensions. */
  def pngDocs(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    widened(docs).select(col("doc_id")).as[Long].mapPartitions { it =>
      // ImageIO defaults to a FILE-backed stream cache — a temp file per
      // encode — which turns these small in-memory payloads into disk
      // I/O. Memory-cached streams are strictly better here (static
      // setting, set executor-side where the partition runs).
      ImageIO.setUseCache(false)
      val writer = newPngWriter()
      it.map { id =>
        val (w, h) = pngDims(id)
        val (img, px) = rgbImage(w, h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            px(y * w + x) = (id * 2654435761L + x * 7919 + y * 104729).toInt & 0xffffff
            x += 1
          }
          y += 1
        }
        BinaryDoc(id, writePng(writer, img), "image/png")
      }
    }.toDF()
  }

  /** Real decoder: per partition, ONE shared digest + the ImageIO reader
    * registry context; per image-tagged row, sniff the container with the
    * installed readers (PNG/BMP/GIF/JPEG ship in the JRE) and read the
    * header-declared dimensions. `reader.getWidth/getHeight` parse the
    * header only — pixel data is not decoded for a metadata pass, which is
    * exactly the cheap scan a 100-TB catalog build wants.
    *
    * Sniffing is gated on the typed format tag (an `image/` prefix):
    * raw-tagged
    * payloads go straight to the deterministic byte-signature branch.
    * Trusting the catalog's tag matters for more than speed — arbitrary
    * text bytes can open with a codec magic ("BM", "GIF8") and would
    * otherwise be claimed by a reader and yield container-garbage dims.
    * Image-tagged payloads that fail to parse land in the same raw branch
    * under a `corrupt/` format — the quarantine row a real pipeline emits
    * instead of killing the task. */
  private def decodePartition(it: Iterator[BinaryDoc]): Iterator[MediaMeta] = {
    ImageIO.setUseCache(false) // in-memory payloads: no temp-file cache
    val digest = MessageDigest.getInstance("SHA-256")
    def raw(b: BinaryDoc, n: Long, sha: String, tag: String) =
      MediaMeta(b.doc_id, n, tag, 64L + n % 1024L, 64L + (n * 31L) % 1024L, sha)
    it.map { b =>
      val n = b.payload.length.toLong
      val sha = digest.digest(b.payload).map("%02x".format(_)).mkString
      if (!b.format.startsWith("image/")) raw(b, n, sha, b.format)
      else {
        val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(b.payload))
        try {
          val readers = ImageIO.getImageReaders(iis)
          if (!readers.hasNext) raw(b, n, sha, s"corrupt/${b.format}")
          else {
            val r = readers.next()
            try MediaMeta(b.doc_id, n, { r.setInput(iis); r.getFormatName.toLowerCase },
              r.getWidth(0).toLong, r.getHeight(0).toLong, sha)
            catch { case _: java.io.IOException => raw(b, n, sha, s"corrupt/${b.format}") }
            finally r.dispose()
          }
        } finally iis.close()
      }
    }
  }

  /** Decode a binary-doc DataFrame into typed media metadata. */
  def decodeMeta(spark: SparkSession, bin: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    bin.as[BinaryDoc].mapPartitions(decodePartition)
  }

  /** PNG corpus WITH PLANTED NEAR-DUPLICATES for the perceptual-hash dedup
    * path: every doc_id ≡ 1 (mod 10) renders the PREVIOUS doc's image
    * (same dims, same pixel formula) with the low bit of each channel
    * cleared on the (x+y) ≡ 0 (mod 7) stripe — a ≤3/765 gray perturbation,
    * the "re-encoded copy" a real image pipeline deduplicates. Everything
    * stays a deterministic function of doc_id, so the oracle replays both
    * the original and the perturbed pixels. */
  def phashPngDocs(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    widened(docs).select(col("doc_id")).as[Long].mapPartitions { it =>
      ImageIO.setUseCache(false)
      val writer = newPngWriter()
      it.map { id =>
        val src = if (id % 10 == 1) id - 1 else id
        val perturbed = id % 10 == 1
        val (w, h) = pngDims(src)
        val (img, px) = rgbImage(w, h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val base = (src * 2654435761L + x * 7919 + y * 104729).toInt & 0xffffff
            val v = if (perturbed && (x + y) % 7 == 0) base & 0xfefefe else base
            px(y * w + x) = v
            x += 1
          }
          y += 1
        }
        BinaryDoc(id, writePng(writer, img), "image/png")
      }
    }.toDF()
  }

  /** 64-bit average-hash over a decoded image: nearest-neighbor-sample an
    * 8×8 grid (x_i = ⌊(2i+1)w/16⌋ — always in range, defined for any
    * dims), gray = r+g+b (a sum, no division), bit k = (64·gray_k > Σgray)
    * via integer cross-multiply. ALL integer math, so the DuckDB oracle
    * replays the hash from the pixel formula while THIS path must really
    * decode the PNG to reproduce it. aHash (threshold-vs-mean) rather than
    * dHash (neighbor gradient) because tiny test images duplicate sample
    * coordinates — gradient bits degenerate to structural zeros there,
    * while threshold bits stay value-dependent at any size. */
  def aHash64(img: BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val g = new Array[Long](64)
    var s = 0L
    var j = 0
    while (j < 8) {
      val y = ((2 * j + 1) * h) / 16
      var i = 0
      while (i < 8) {
        val x = ((2 * i + 1) * w) / 16
        val v = img.getRGB(x, y) & 0xffffff
        val gr = ((v >> 16) & 255) + ((v >> 8) & 255) + (v & 255).toLong
        g(j * 8 + i) = gr
        s += gr
        i += 1
      }
      j += 1
    }
    var hash = 0L
    var k = 0
    while (k < 64) {
      if (64L * g(k) > s) hash |= (1L << k)
      k += 1
    }
    hash
  }

  /** Full pixel decode → perceptual hash, per partition (codec context
    * constructed once; payloads decode in memory). Unlike the metadata
    * pass this reads pixel data — the catalog-build step of an image
    * near-dup pipeline. */
  def decodeAHash(spark: SparkSession, bin: DataFrame): DataFrame = {
    import spark.implicits._
    bin.as[BinaryDoc].mapPartitions { it =>
      ImageIO.setUseCache(false)
      val reader = newPngReader()
      it.map { b =>
        (b.doc_id, aHash64(readPng(reader, b.payload)))
      }
    }.toDF("doc_id", "phash")
  }

  /** Synthesize a REAL multi-frame "video" per document: 4 + id%5 PNG
    * frames at the doc's [[pngDims]], pixels seeded by (doc_id·31 +
    * scene), where the scene flips 0→1 at frame nf/2 — one planted hard
    * cut per video. Within a scene, consecutive frames carry a tiny
    * frame-indexed perturbation ((x+y+f)%7 positions lose one LSB per
    * channel), so intra-scene frame hashes differ by a few bits while the
    * cross-cut pair re-seeds every pixel. Encoded through the JDK PNG
    * writer map-side — downstream must really decode. */
  def videoFrameDocs(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    widened(docs).select(col("doc_id")).as[Long].mapPartitions { it =>
      ImageIO.setUseCache(false)
      val writer = newPngWriter()
      it.flatMap { id =>
        val nf = 4 + (id % 5).toInt
        val (w, h) = pngDims(id)
        (0 until nf).map { f =>
          val sc = if (f < nf / 2) 0L else 1L
          val src = id * 31 + sc
          val (img, px) = rgbImage(w, h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val base = (src * 2654435761L + x * 7919 + y * 104729).toInt & 0xffffff
              val v = if ((x + y + f) % 7 == 0) base & 0xfefefe else base
              px(y * w + x) = v
              x += 1
            }
            y += 1
          }
          BinaryFrame(id, f, writePng(writer, img))
        }
      }
    }.toDF()
  }

  /** Per-frame decode → [[aHash64]] catalog over a frame table — the
    * map-side build step shared by scene-cut detection and video dedup. */
  def frameHashes(spark: SparkSession, frames: DataFrame): DataFrame = {
    import spark.implicits._
    frames.as[BinaryFrame].mapPartitions { it =>
      ImageIO.setUseCache(false)
      val reader = newPngReader()
      it.map { b =>
        (b.doc_id, b.frame_idx, aHash64(readPng(reader, b.payload)))
      }
    }.toDF("doc_id", "frame_idx", "phash")
  }

  /** [[videoFrameDocs]] with planted near-duplicate VIDEOS: doc_id ≡ 1
    * mod 10 re-renders the previous doc's video (same source seed, frame
    * count, and dims) with one extra LSB dropped per channel on the
    * (x+y) % 5 pixel stripe of every frame — the re-encoded/re-compressed
    * copy a video dedup pipeline must catch. Deterministic in doc_id, so
    * the oracle replays both renditions. */
  def videoDupFrameDocs(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    widened(docs).select(col("doc_id")).as[Long].mapPartitions { it =>
      ImageIO.setUseCache(false)
      val writer = newPngWriter()
      it.flatMap { id =>
        val src = if (id % 10 == 1) id - 1 else id
        val pert = id % 10 == 1
        val nf = 4 + (src % 5).toInt
        val (w, h) = pngDims(src)
        (0 until nf).map { f =>
          val sc = if (f < nf / 2) 0L else 1L
          val seed = src * 31 + sc
          val (img, px) = rgbImage(w, h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val base = (seed * 2654435761L + x * 7919 + y * 104729).toInt & 0xffffff
              val v0 = if ((x + y + f) % 7 == 0) base & 0xfefefe else base
              val v = if (pert && (x + y) % 5 == 0) v0 & 0xfefefe else v0
              px(y * w + x) = v
              x += 1
            }
            y += 1
          }
          BinaryFrame(id, f, writePng(writer, img))
        }
      }
    }.toDF()
  }

  /** Video near-duplicate pairs over a per-frame hash catalog: candidates
    * from the ANCHOR frame's (16-bit band) buckets — frame 0 only, so the
    * band stage costs exactly one image per video however long the videos
    * are (banding every frame multiplied band rows by the frame count and
    * bucket pair cost by its square — measured 3.07 → 0.6 s at sf0.1).
    * Anchor banding is lossless w.r.t. the verify below in the same
    * w.h.p. sense as all LSH blocking: a surviving pair needs EVERY
    * aligned frame within `maxHamming`, in particular frame 0, and a
    * ≤ maxHamming pair agrees on ≥1 of its 4 bands w.h.p. The verify
    * then compares EVERY aligned frame and keeps pairs whose frame
    * counts match, all frames were compared, and the WORST frame
    * distance is ≤ `maxHamming` (max is an AND over frames: one
    * mismatched scene kills the pair). The only shuffles move (id,
    * 16-bit key) anchor rows and the candidate pairs; no all-pairs
    * stage, and the decode stays map-side in [[frameHashes]]. */
  def videoDedupPairs(rawHashes: DataFrame, maxHamming: Int = 6,
                      stage: Boolean = true): DataFrame = {
    // The hash catalog is read FOUR times below (frame counts, anchor
    // bands, both verify sides); when it is a LIVE decode chain, stage it
    // once so the per-frame decode runs once, not per reference — the
    // catalog is 3 longs per frame, the decode is the expensive part
    // (measured 4× at sf0.1). When the caller passes an ARTIFACT-backed
    // catalog (mm_video_dedup serves the persisted frame table), pass
    // stage=false: each reference is then a 1-task columnar re-scan,
    // strictly cheaper than materializing 32 checkpoint block partitions
    // per run and re-scanning those 8× (round-16 profile: the checkpoint
    // stage plus block re-scans were ~10 of the query's ~25 task-seconds).
    // localCheckpoint trade: lineage is cut to executor-local storage,
    // so losing an executor fails the query instead of recomputing it.
    val hashes = if (stage) rawHashes.localCheckpoint() else rawHashes
    val nf = hashes.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    // The frame count joins the blocking key: equal counts are already
    // REQUIRED by the verify predicate, so keying the buckets by nf is
    // lossless and splits every band bucket by video length — standard
    // blocking hygiene (push every equality conjunct of the match
    // predicate into the candidate key).
    val banded = hashes.where(col("frame_idx") === 0).join(nf, "doc_id")
      .select(col("doc_id"), col("nf"), posexplode(array((0 until 4).map(b =>
        expr(s"shiftrightunsigned(phash, ${16 * b}) & 65535")): _*))
        .as(Seq("band_idx", "band")))
    // nf rides along from the banding key (a.nf = b.nf is a join conjunct,
    // so it is functional per pair) — re-joining the nf aggregate twice at
    // the end re-computed and re-broadcast it for nothing (round-16 trim:
    // two aggregate jobs + two broadcast jobs off the tail; the verify
    // predicate nf_a = nf_b ∧ n_frames = nf_a collapses to n_frames = nf).
    val cand = banded.as("a").join(banded.as("b"),
        col("a.nf") === col("b.nf") &&
          col("a.band_idx") === col("b.band_idx") &&
          col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("dup_a"), col("b.doc_id").as("dup_b"),
        col("a.nf").as("nf"))
      .distinct()
    val ha = hashes.select(col("doc_id").as("dup_a"), col("frame_idx"),
      col("phash").as("pa"))
    val hb = hashes.select(col("doc_id").as("dup_b"), col("frame_idx"),
      col("phash").as("pb"))
    cand.join(ha, "dup_a").join(hb, Seq("dup_b", "frame_idx"))
      .groupBy(col("dup_a"), col("dup_b"), col("nf"))
      .agg(count(lit(1)).as("n_frames"),
        max(expr("bit_count(pa ^ pb)")).cast("long").as("max_hamming"))
      .where(col("n_frames") === col("nf") &&
        col("max_hamming") <= maxHamming)
      .select(col("dup_a"), col("dup_b"), col("n_frames"), col("max_hamming"))
  }

  /** Temporal scene-cut detection over decoded frames: per-frame
    * [[aHash64]], then the Hamming distance between each frame and its
    * predecessor (one doc-keyed window pass); a distance above
    * `threshold` is a cut. The per-video state is one 64-bit hash lag —
    * at 100 TB of video this is a narrow per-key window over frame rows,
    * with the decode itself map-side. */
  def sceneCuts(spark: SparkSession, frames: DataFrame,
                threshold: Int): DataFrame = {
    val hashed = frameHashes(spark, frames)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    hashed
      .withColumn("prev", lag(col("phash"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        expr("bit_count(phash ^ prev)").cast("long").as("hamming"))
      .withColumn("is_cut", col("hamming") > threshold)
  }

  /** Synthesize a deterministic unsigned-8-bit PCM clip per document:
    * 512 + (id%7)·128 samples, noise-like amplitude from the id/offset
    * formula, with every 4th 128-sample window a PLANTED near-silence
    * (amplitude ≤ 3 around the 128 midpoint). No audio codec exists in
    * this container, so the "decode" is this deterministic fake — the
    * binary-column plumbing, batch shape, and windowed DSP accounting
    * downstream are the real, tested parts (the brief's stub contract). */
  def audioClipDocs(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    widened(docs).select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val n = 512 + (id % 7).toInt * 128
        val bytes = new Array[Byte](n)
        var i = 0
        while (i < n) {
          val b =
            if ((i / 128) % 4 == 3) 128 + (((id + i) % 7).toInt - 3)
            else ((id * 2654435761L + i * 104729L) & 255).toInt
          bytes(i) = b.toByte
          i += 1
        }
        AudioClip(id, bytes)
      }
    }.toDF()
  }

  /** [[audioClipDocs]] with planted near-duplicate CLIPS: doc_id ≡ 1 mod
    * 10 re-renders the previous doc's PCM samples (same source seed and
    * length) with the LSB flipped on every 11th sample — the re-encoded /
    * slightly-requantized copy an audio dedup pipeline must catch. */
  def audioDupClipDocs(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    widened(docs).select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val src = if (id % 10 == 1) id - 1 else id
        val pert = id % 10 == 1
        val n = 512 + (src % 7).toInt * 128
        val bytes = new Array[Byte](n)
        var i = 0
        while (i < n) {
          val b0 =
            if ((i / 128) % 4 == 3) 128 + (((src + i) % 7).toInt - 3)
            else ((src * 2654435761L + i * 104729L) & 255).toInt
          val b = if (pert && i % 11 == 0) b0 ^ 1 else b0
          bytes(i) = b.toByte
          i += 1
        }
        AudioClip(id, bytes)
      }
    }.toDF()
  }

  /** 64-bit audio fingerprint over a PCM payload: the clip is cut into 64
    * equal sub-windows (payload lengths here are multiples of 64), each
    * REQUANTIZED to 6 bits (sample >> 2 — any ±1/±2 re-encoding noise
    * vanishes by construction) and reduced to one bit of its content
    * digest (md5 of the comma-joined quantized samples). A re-encoded
    * copy hashes every window identically ⇒ Hamming 0; replacing a
    * window flips its bit with p = ½ ⇒ the Hamming distance counts
    * genuinely differing windows (unrelated clips sit near 32). A
    * mean-relative energy profile is deliberately NOT used: on this
    * synthetic near-uniform noise per-window energies are almost
    * offset-invariant, so profile bits collapse across clips (measured:
    * 15k false pairs at sf0.01); content-digest bits carry the actual
    * discriminative signal while staying requantization-invariant. */
  def audioFingerprints(spark: SparkSession, clips: DataFrame): DataFrame = {
    import spark.implicits._
    clips.as[AudioClip].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { c =>
        val n = c.payload.length
        val L = n / 64
        var hash = 0L
        var j = 0
        while (j < 64) {
          val sb = new java.lang.StringBuilder(L * 3)
          var i = j * L
          val end = i + L
          while (i < end) {
            if (i > j * L) sb.append(',')
            sb.append((c.payload(i) & 0xff) >> 2)
            i += 1
          }
          md.reset()
          val dg = md.digest(sb.toString.getBytes("UTF-8"))
          // Parity of the digest's first hex digit (= high nibble of
          // byte 0) — what the oracle reads from md5()'s hex string.
          if (((dg(0) >> 4) & 1) == 1) hash |= (1L << j)
          j += 1
        }
        (c.doc_id, hash)
      }
    }.toDF("doc_id", "phash")
  }

  /** Windowed audio energy + silence detection over PCM payloads: per
    * 128-sample window, Σ|sample − 128| (all integer); a window under
    * `silentMax` total deviation is silent. Per-clip output row —
    * map-side over the binary column, no shuffle; the per-clip work is
    * O(payload) regardless of corpus size. */
  def audioEnergy(spark: SparkSession, clips: DataFrame,
                  window: Int = 128, silentMax: Long = 2048L): DataFrame = {
    import spark.implicits._
    clips.as[AudioClip].mapPartitions { it =>
      it.map { c =>
        val n = c.payload.length
        val nw = n / window
        var wi = 0; var silent = 0L; var total = 0L
        while (wi < nw) {
          var s = 0L
          var i = wi * window
          val end = i + window
          while (i < end) {
            s += math.abs((c.payload(i) & 0xff) - 128)
            i += 1
          }
          if (s < silentMax) silent += 1
          total += s
          wi += 1
        }
        (c.doc_id, n.toLong, nw.toLong, silent, total)
      }
    }.toDF("doc_id", "n_samples", "n_windows", "n_silent", "total_abs")
  }

  /** Image near-duplicate pairs from perceptual hashes: 4×16-bit band
    * blocking (a near-identical image agrees on ≥1 band w.h.p. — same
    * LSH-band shape as [[graft.operators.Dedup.simhashPairs]]), then an
    * exact Hamming verify over the candidate pairs only. At 100 TB the
    * band join is the only shuffle and moves (id, 16-bit key) pairs; no
    * all-pairs stage exists. */
  def phashPairs(hashes: DataFrame, maxHamming: Int = 10): DataFrame = {
    val banded = hashes.select(col("doc_id"), col("phash"),
      posexplode(array((0 until 4).map(b =>
        expr(s"shiftrightunsigned(phash, ${16 * b}) & 65535")): _*))
        .as(Seq("band_idx", "band")))
    // Verify BEFORE the dedup exchange (guide §2.3): hamming is a pure
    // function of the pair, so filtering first shrinks the distinct's
    // shuffle from every band collision (~84k rows at sf0.1) to the
    // verified matches (~6k) — identical output rows.
    banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("dup_a"), col("b.doc_id").as("dup_b"),
        expr("bit_count(a.phash ^ b.phash)").cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Continuous-ingest image dedup — the SERVED variant of [[phashPairs]],
    * the image analog of the text LSH serve path: the HISTORICAL corpus's
    * banded perceptual hashes persist as a read-through index artifact
    * (keyed by the source fingerprint, built once per corpus), and an
    * incoming batch (doc_id ≡ 0 mod 5 — the same batch convention as
    * `dedup_incremental`) decodes, hashes, and probes the index
    * ASYMMETRICALLY: batch×history only, history×history never re-paired,
    * so per-batch cost tracks the batch. Returns (new_id, dup_of,
    * hamming) for verified matches. */
  def phashServed(spark: SparkSession, docs: DataFrame,
                  maxHamming: Int = 10): DataFrame = {
    def banded(hashes: DataFrame) =
      hashes.select(col("doc_id"), col("phash"),
        posexplode(array((0 until 4).map(b =>
          expr(s"shiftrightunsigned(phash, ${16 * b}) & 65535")): _*))
          .as(Seq("band_idx", "band")))
    val idx = graft.operators.IndexCache.cachedFrame(spark, "phash_index",
        "b4x16", graft.operators.Dedup.docFp(docs)) {
      banded(decodeAHash(spark,
        phashPngDocs(spark, docs.filter(col("doc_id") % 5 =!= 0))))
    }
    val probe = banded(decodeAHash(spark,
      phashPngDocs(spark, docs.filter(col("doc_id") % 5 === 0))))
    // Same verify-before-distinct ordering as [[phashPairs]] (§2.3).
    probe.as("a").join(idx.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band") === col("b.band"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("dup_of"),
        expr("bit_count(a.phash ^ b.phash)").cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Frame sampling, declaratively: one row per 256-byte "frame" of the
    * payload (a real pipeline would sample keyframes by timestamp). */
  def frameSample(bin: DataFrame, frameBytes: Int = 256): DataFrame =
    bin.select(
      col("doc_id"),
      explode(sequence(lit(0L),
        floor(octet_length(col("payload")) / frameBytes).cast("long")))
        .as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * frameBytes).as("frame_off"))

  /** Deterministic synthetic IMAGE-side embeddings ALIGNED to the text
    * corpus — the stand-in for a CLIP-style dual encoder (the real image
    * tower isn't in this container): image i's vector is text i's vector
    * plus a reproducible per-dimension offset in [-0.20, 0.20], derived
    * from the first two hex digits of md5(vec_id|dim) — large enough
    * that retrieval through the shared space is non-trivial (the
    * "modality gap"), small enough that the aligned text stays the
    * nearest neighborhood. Exact cross-engine replay: the offset is an
    * integer grid value added in IEEE double space (the simhash oracle's
    * hex-digit decode), no RNG anywhere. */
  def alignedImageEmbeddings(emb: DataFrame): DataFrame = {
    def hexDigit(pos: Int): String = {
      val a = s"ascii(substring(md5(concat(cast(vec_id as string), '|', " +
        s"cast(j as string))), $pos, 1))"
      s"(CASE WHEN $a <= 57 THEN $a - 48 ELSE $a - 87 END)"
    }
    emb.select(col("vec_id"),
      expr("transform(embedding, (x, j) -> cast(x as double) + " +
        s"(((${hexDigit(1)} * 16 + ${hexDigit(2)}) % 41) - 20) / 100.0)")
        .as("embedding"))
  }
}
