package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRecord

/** The real javax.imageio decode path: generated PNG/BMP fixtures flow
  * through the same partition-batched extractor as the stub, and the
  * pixel statistics must match values computed directly from the
  * generator formula.
  */
class MultimodalImageSpec extends SparkSuite {
  import spark.implicits._
  private implicit val sp: org.apache.spark.sql.SparkSession = spark

  /** Deterministic w×h test image: rgb(x,y) = ((x*7+y) , (y*5) , (x+y*3))
    * mod 256.
    */
  private def fixture(w: Int, h: Int, format: String): Array[Byte] = {
    val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = ((x * 7 + y) % 256, (y * 5) % 256, (x + y * 3) % 256)
      im.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val out = new ByteArrayOutputStream()
    assert(ImageIO.write(im, format, out), s"no $format writer")
    out.toByteArray
  }

  private def expectedMeans(w: Int, h: Int): (Double, Double, Double) = {
    var r = 0L; var g = 0L; var b = 0L
    for (y <- 0 until h; x <- 0 until w) {
      r += (x * 7 + y) % 256; g += (y * 5) % 256; b += (x + y * 3) % 256
    }
    val n = (w * h).toDouble
    def m(s: Long) = java.math.BigDecimal.valueOf(s / n)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    (m(r), m(g), m(b))
  }

  test("PNG and BMP fixtures decode to exact pixel means") {
    for (fmt <- Seq("png", "bmp")) {
      val (w, h) = (32, 17)
      val media = Seq(MediaRecord(1L, fixture(w, h, fmt), s"image/$fmt", w))
        .toDS().repartition(4)
      val got = Multimodal.extractImageFeatures(media).collect()
      assert(got.length == 1, fmt)
      val f = got.head
      val (er, eg, eb) = expectedMeans(w, h)
      assert((f.width, f.height) == (w.toLong, h.toLong), fmt)
      assert((f.mean_r, f.mean_g, f.mean_b) == (er, eg, eb), fmt)
    }
  }

  test("undecodable payloads are dropped, decodable ones kept") {
    val media = Seq(
      MediaRecord(1L, fixture(8, 8, "png"), "image/png", 8),
      MediaRecord(2L, "not an image at all".getBytes("UTF-8"), "text/plain", 0))
      .toDS()
    val got = Multimodal.extractImageFeatures(media).collect()
    assert(got.map(_.id).toSeq == Seq(1L))
  }

  test("perceptualHash: same pixels → identical hash across formats; banded pairs == brute force") {
    // PNG and BMP encodes of the SAME gradient must collapse to one
    // perceptual hash (re-encode invariance — the property aHash dedup
    // exists for); a different geometry gives a different hash
    val media = Seq(
      MediaRecord(1L, fixture(24, 11, "png"), "image/png", 24),
      MediaRecord(2L, fixture(24, 11, "bmp"), "image/bmp", 24),
      MediaRecord(3L, fixture(17, 13, "png"), "image/png", 17),
      MediaRecord(4L, "junk".getBytes("UTF-8"), "text/plain", 0))
      .toDS().repartition(3)
    val hs = Multimodal.perceptualHashes(media).collect()
      .map(p => p.id -> (p.ph_hi, p.ph_lo)).toMap
    assert(hs.keySet == Set(1L, 2L, 3L), "undecodable dropped")
    assert(hs(1L) == hs(2L), "re-encode must hash identically")
    assert(hs(1L) != hs(3L), "different geometry must differ")

    // banded candidate join equals the all-pairs Hamming brute force
    val ids = spark.range(80).map(java.lang.Long.valueOf(_))
    val hashes = Multimodal
      .perceptualHashes(Multimodal.fixtureImageCorpus(ids))
      .toDF("id", "hi", "lo")
    val pairs = graft.operators.Dedup.hammingPairs64(
      hashes, maxHamming = 7, persist = false)
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val raw = hashes.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (ia, ha, la) <- raw; (ib, hb, lb) <- raw if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
      if d <= 7
    } yield (ia, ib) -> d.toLong).toMap
    assert(got == brute, "banding must be candidate-complete to Hamming 7")
    // ids congruent mod 40 are pixel-identical fixtures → Hamming 0
    assert((0L until 40L).forall(i => got.get((i, i + 40)).contains(0L)))
  }

  test("nearest-neighbor resize picks the exact integer-mapped source pixels") {
    // 16×9 gradient resized to 4×3: target (x,y) samples source
    // (x*16 div 4, y*9 div 3) = (4x, 3y) — expected means from the
    // gradient formula over exactly those 12 source pixels
    val media = Seq(MediaRecord(7L, fixture(16, 9, "png"), "image/png", 16))
      .toDS().repartition(2)
    val got = Multimodal.resizeFeatures(media, 4, 3).collect()
    assert(got.length == 1)
    val f = got.head
    assert((f.src_w, f.src_h, f.w, f.h) == (16L, 9L, 4L, 3L))
    var r = 0L; var g = 0L; var b = 0L
    for (y <- 0 until 3; x <- 0 until 4) {
      val (sx, sy) = (4 * x, 3 * y)
      r += (sx * 7 + sy) % 256; g += (sy * 5) % 256; b += (sx + sy * 3) % 256
    }
    def m(s: Long) = java.math.BigDecimal.valueOf(s / 12.0)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    assert((f.mean_r, f.mean_g, f.mean_b) == (m(r), m(g), m(b)))
  }

  test("resize of an undecodable payload is dropped") {
    val media = Seq(
      MediaRecord(1L, fixture(10, 10, "png"), "image/png", 10),
      MediaRecord(2L, Array[Byte](1, 2, 3), "image/png", 0)).toDS()
    assert(Multimodal.resizeFeatures(media, 2, 2).collect().map(_.id).toSeq
      == Seq(1L))
  }

  test("decodeWav round-trips the fixture samples exactly; rejects non-PCM") {
    val bytes = Multimodal.fixtureWav(3L)
    val Some((sr, s)) = Multimodal.decodeWav(bytes)
    assert(sr == 8000)
    val p = 32L + 3 % 7 * 16; val amp = 8000L + 3 % 11 * 1000
    val n = 2048 + (3 % 5) * 512
    assert(s.length == n)
    (0 until n).foreach { t =>
      val expect = if (t >= n - 256) 0L else ((t % p) * 2 * amp) / p - amp
      assert(s(t).toLong == expect, s"t=$t")
    }
    // negative samples survive the int16 little-endian round trip
    assert(s.exists(_ < 0))
    assert(Multimodal.decodeWav(Array[Byte](1, 2, 3)).isEmpty)
    // stereo (channels=2) is rejected, not mis-parsed
    val stereo = bytes.clone(); stereo(22) = 2
    assert(Multimodal.decodeWav(stereo).isEmpty)
  }

  test("audioFeatures: silent tail frame counted; undecodable clips drop") {
    val media = Seq(
      MediaRecord(7L, Multimodal.fixtureWav(7L), "audio/wav", 8000L),
      MediaRecord(8L, Array[Byte](9, 9), "audio/wav", 0L)).toDS()
    val out = Multimodal.audioFeatures(media).collect()
    assert(out.map(_.id).toSeq == Seq(7L))
    val f = out.head
    val n = 2048 + (7 % 5) * 512
    assert(f.n_samples == n && f.n_frames == n / 256)
    // exactly the one zeroed tail frame is silent (sawtooth frames all
    // carry energy)
    assert(f.silent_frames == 1L, s"silent=${f.silent_frames}")
    assert(f.peak > 0 && f.total_abs > f.peak)
  }
}
