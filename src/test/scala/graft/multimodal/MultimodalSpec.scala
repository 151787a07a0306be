package graft.multimodal

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Pins the REAL javax.imageio decode path: genuine PNG/BMP/GIF containers
  * round-trip through the typed mapPartitions decoder and come back with
  * the header-declared dimensions; raw-tagged and corrupt payloads land in
  * their deterministic fallback branches. */
class MultimodalSpec extends AnyFunSuite with SparkSpec {

  private def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    (0 until h).foreach(y => (0 until w).foreach(x =>
      img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)))
    val bos = new ByteArrayOutputStream()
    assert(ImageIO.write(img, fmt, bos), s"no JRE writer for $fmt")
    bos.toByteArray
  }

  test("png/bmp/gif containers decode to their header-declared dimensions") {
    import spark.implicits._
    val cases = Seq(
      (1L, "png", 7, 3), (2L, "png", 1, 1), (3L, "bmp", 5, 9),
      (4L, "gif", 16, 2), (5L, "png", 64, 64))
    val bin = cases.map { case (id, fmt, w, h) =>
      BinaryDoc(id, encode(fmt, w, h), s"image/$fmt")
    }.toDF()
    val out = Multimodal.decodeMeta(spark, bin).collect()
      .map(m => m.doc_id -> m).toMap
    cases.foreach { case (id, fmt, w, h) =>
      val m = out(id)
      assert(m.format == fmt, s"$id: format ${m.format} != $fmt")
      assert(m.width == w && m.height == h,
        s"$id: decoded ${m.width}x${m.height}, wrote ${w}x$h")
      assert(m.n_bytes > 0)
    }
  }

  test("raw-tagged payloads skip sniffing even when bytes open with codec magic") {
    import spark.implicits._
    // "BM..." is a valid BMP magic; the raw tag must keep it out of the
    // BMP reader (container-garbage dims) and in the signature branch.
    val payload = "BM this is text that merely starts like a bitmap".getBytes("UTF-8")
    val n = payload.length.toLong
    val out = Multimodal.decodeMeta(spark,
      Seq(BinaryDoc(7L, payload, "fake/raw")).toDF()).collect().head
    assert(out.format == "fake/raw")
    assert(out.width == 64L + n % 1024L && out.height == 64L + (n * 31L) % 1024L)
  }

  test("image-tagged payload no codec claims lands in the corrupt branch") {
    import spark.implicits._
    val out = Multimodal.decodeMeta(spark,
      Seq(BinaryDoc(9L, "not an image at all".getBytes("UTF-8"), "image/png"))
        .toDF()).collect().head
    assert(out.format == "corrupt/image/png")
  }

  test("phash dedup recovers every planted image near-dup, none missed") {
    import spark.implicits._
    val docs = (0L until 200L).toDF("doc_id")
    val pairs = Multimodal.phashPairs(
        Multimodal.decodeAHash(spark, Multimodal.phashPngDocs(spark, docs)),
        maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val planted = (0L until 200L).filter(_ % 10 == 1).map(d => (d - 1, d))
    planted.foreach { p =>
      assert(pairs.contains(p), s"planted near-dup $p not recovered")
      assert(pairs(p) <= 3, s"planted $p at hamming ${pairs(p)} — " +
        "perturbation should flip at most a few threshold bits")
    }
    // The verify stage is real: unrelated pairs that merely share a band
    // must NOT pass at tight thresholds (hamming separation ≥ 7 here).
    val unplanted = pairs.keySet -- planted.toSet
    unplanted.foreach { p =>
      assert(pairs(p) >= 7, s"unplanted pair $p at hamming ${pairs(p)}")
    }
  }

  test("aHash is invariant to a PNG re-encode (decode-side hash, not byte hash)") {
    import spark.implicits._
    // The same pixels encoded twice (fresh encoder runs) must hash alike —
    // a byte-level fingerprint would differ if the container bytes did.
    val docs = (0L until 20L).toDF("doc_id")
    val h1 = Multimodal.decodeAHash(spark,
      Multimodal.pngDocs(spark, docs)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h2 = Multimodal.decodeAHash(spark,
      Multimodal.pngDocs(spark, docs)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 == h2)
  }

  test("sceneCuts recovers exactly the planted cut in every video") {
    import spark.implicits._
    val docs = (0L until 40L).toDF("doc_id")
    val cuts = Multimodal.sceneCuts(spark,
        Multimodal.videoFrameDocs(spark, docs), threshold = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    // Every consecutive-frame row exists (nf - 1 per doc) and the cut
    // set is exactly { nf/2 } per doc — the scene re-seed frame.
    val byDoc = cuts.groupBy(_._1)
    assert(byDoc.keySet === (0L until 40L).toSet)
    (0L until 40L).foreach { id =>
      val nf = 4 + (id % 5).toInt
      val rows = byDoc(id)
      assert(rows.length === nf - 1, s"doc $id: ${rows.length} rows")
      val cutFrames = rows.filter(_._3).map(_._2).sorted.toSeq
      assert(cutFrames === Seq((nf / 2).toLong),
        s"doc $id: cuts at $cutFrames, expected ${nf / 2}")
    }
  }

  test("audioEnergy flags exactly the planted near-silence windows") {
    import spark.implicits._
    val docs = (0L until 40L).toDF("doc_id")
    val rows = Multimodal.audioEnergy(spark,
        Multimodal.audioClipDocs(spark, docs))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet === (0L until 40L).toSet)
    (0L until 40L).foreach { id =>
      val nw = 4 + (id % 7)
      val (gotW, gotSilent) = rows(id)
      assert(gotW === nw, s"doc $id windows")
      // Every 4th window (wdw % 4 == 3) is planted near-silent; noise
      // windows sit far above the threshold by construction.
      assert(gotSilent === nw / 4, s"doc $id silent count")
    }
  }

  test("videoDedupPairs recovers every planted copy video and only those") {
    import spark.implicits._
    val docs = (0L until 50L).toDF("doc_id")
    val pairs = Multimodal.videoDedupPairs(
        Multimodal.frameHashes(spark,
          Multimodal.videoDupFrameDocs(spark, docs)), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val planted = (0L until 50L).filter(_ % 10 == 1).map(id => (id - 1, id)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == planted,
      s"got ${pairs.toSeq.sorted}")
    // Every surviving pair's WORST frame is still close — the max is the
    // verify, not an average that could hide one replaced scene.
    assert(pairs.forall(_._3 <= 6))
  }

  test("audio dedup recovers every planted copy clip and only those") {
    import spark.implicits._
    val docs = (0L until 60L).toDF("doc_id")
    val pairs = Multimodal.phashPairs(
        Multimodal.audioFingerprints(spark,
          Multimodal.audioDupClipDocs(spark, docs)), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 60L).filter(_ % 10 == 1).map(id => (id - 1, id)).toSet
    assert(planted.subsetOf(pairs), s"missed: ${planted -- pairs}")
    // Unrelated noise clips sit near Hamming ~32; nothing but the planted
    // copies should clear 6 on this corpus.
    assert(pairs == planted, s"extra: ${pairs -- planted}")
  }

  test("pngDocs synthesizes real containers whose decode matches pngDims") {
    import spark.implicits._
    val docs = (0L until 30L).toDF("doc_id")
    val metas = Multimodal.decodeMeta(spark, Multimodal.pngDocs(spark, docs))
      .collect().map(m => m.doc_id -> m).toMap
    assert(metas.size == 30)
    (0L until 30L).foreach { id =>
      val (w, h) = Multimodal.pngDims(id)
      val m = metas(id)
      assert(m.format == "png")
      assert(m.width == w && m.height == h, s"$id: ${m.width}x${m.height} != ${w}x$h")
    }
  }
}
