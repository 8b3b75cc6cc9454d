package graft.tools

/**
 * Deterministic committed corpus of REAL encoded PNGs — the fixture
 * that lets `MultimodalOps.decodeImagePartitioned` be gated end-to-end
 * (the driver's testdata ships no genuine binary payloads; synthetic
 * md5 blobs exercise the plumbing but can never prove a decode).
 *
 * Every image is a pure function of its id: [[dims]] picks the
 * dimensions, [[rgb]] the pixel colors. The generator `main` encodes
 * them as real PNGs (`javax.imageio` — JDK-public, lossless) into a
 * parquet committed at [[Path]]; [[expectedRows]] computes the SAME
 * statistics the decode query extracts (dimensions + 16-bin luminance
 * histogram, `MultimodalOps.decodeImagePartitioned`'s exact
 * `((r+g+b)/3) >> 4` binning) from the RAW PIXEL DEFINITION — no PNG,
 * no ImageIO, no bytes. The DuckDB oracle embeds those rows as a
 * VALUES literal (the sign-table device: a deterministic generator
 * mirrored arithmetically on the oracle side), so the gated query
 * passes iff the committed bytes genuinely round-trip the encoder —
 * a real decode proof, not an echo of the decoder's own output.
 *
 * Sizes span 5–16 × 4–13 px so the corpus stays a few KB committed
 * while the pixel functions sweep the full luminance range (all 16
 * histogram bins are hit across the corpus).
 */
object PngFixture {
  val N = 48
  val Path: String = sys.env.getOrElse("GRAFT_PNG_FIXTURE",
    "/root/repo/data/png_fixture.parquet")

  def dims(i: Int): (Int, Int) = (5 + i % 12, 4 + (i * 7) % 10)

  def rgb(i: Int, x: Int, y: Int): (Int, Int, Int) = (
    (i * 37 + x * 11 + y * 23) % 256,
    (i * 59 + x * 5 + y * 3) % 256,
    (i * 17 + x * 29 + y * 7) % 256)

  /** (img_id, width, height, hist_csv) from the raw pixel definition —
   *  the oracle side; must never touch PNG bytes or ImageIO. Factor 1
   *  of the resized generator IS the identity (the decode paths share
   *  one body the same way), so a binning fix lands in both oracles. */
  def expectedRows: Seq[(Long, Int, Int, String)] = expectedResizedRows(1)

  /** (img_id, width, height, hist_csv) of the factor-downsampled
   *  images (nearest-neighbor, top-left anchor) from the raw pixel
   *  definition — the oracle side of `mm_decode_resize`; must never
   *  touch PNG bytes or ImageIO. */
  def expectedResizedRows(factor: Int): Seq[(Long, Int, Int, String)] =
    (0 until N).map { i =>
      val (w0, h0) = dims(i)
      val (w, h) = ((w0 + factor - 1) / factor, (h0 + factor - 1) / factor)
      val hist = new Array[Long](16)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val (r, g, b) = rgb(i, x * factor, y * factor)
          hist(((r + g + b) / 3) >> 4) += 1L
          x += 1
        }
        y += 1
      }
      (i.toLong, w, h, hist.mkString(","))
    }

  /** Independent re-derivation of the 64-bit DCT perceptual hash —
   *  plain Scala sharing NO code with `MultimodalOps.phash64` (own
   *  cosine evaluation, own loops, own median sort), so the oracle
   *  gates the hash DEFINITION as well as the decode: 32×32
   *  nearest-neighbor resample `lum(x*w/32, y*h/32)`, 8×8 2-D DCT-II
   *  `f(u,v) = Σ_y Σ_x g(y,x)·cos(π(2x+1)u/64)·cos(π(2y+1)v/64)`,
   *  median of all 64 coefficients (mean of the two middle sorted
   *  values), bit k = uK+v set iff f > median.
   *
   *  NORMATIVE ARITHMETIC: the median thresholds exact doubles, so
   *  the summation order (x innermost, y outer, products
   *  left-associated) and StrictMath cosines are part of the hash
   *  definition — a conforming implementation must sum in this order
   *  or risk a last-ulp flip at a coefficient tied with the median. */
  private[tools] def refPhash64(lum: (Int, Int) => Int, w: Int, h: Int): Long = {
    val coef = new Array[Double](64)
    for (u <- 0 until 8; v <- 0 until 8) {
      var s = 0.0
      for (y <- 0 until 32; x <- 0 until 32) {
        s += lum(x * w / 32, y * h / 32).toDouble *
          StrictMath.cos(StrictMath.PI * (2 * x + 1) * u / 64.0) *
          StrictMath.cos(StrictMath.PI * (2 * y + 1) * v / 64.0)
      }
      coef(u * 8 + v) = s
    }
    val ordered = coef.clone()
    java.util.Arrays.sort(ordered)
    val median = (ordered(31) + ordered(32)) / 2.0
    (0 until 64).foldLeft(0L)((acc, k) =>
      if (coef(k) > median) acc | (1L << k) else acc)
  }

  /** (img_id, phash, ham_variant, ham_next) from the raw pixel
   *  definition — luminance through [[refPhash64]], an INDEPENDENT
   *  plain-Scala re-derivation of the DCT hash (the gate proves both
   *  the decode — oracle pixels come from [[rgb]], Spark pixels from
   *  the committed bytes — and the hash definition itself), with the
   *  brightness-shifted near-dup control and the cyclic-next
   *  (unrelated image) hamming distance. */
  def expectedPhashRows(shift: Int): Seq[(Long, Long, Long, Long)] = {
    val hashes = (0 until N).map { i =>
      val (w, h) = dims(i)
      def lum(x: Int, y: Int): Int = {
        val (r, g, b) = rgb(i, x, y); (r + g + b) / 3
      }
      (refPhash64(lum, w, h),
        refPhash64((x, y) => math.min(255, lum(x, y) + shift), w, h))
    }
    (0 until N).map { i =>
      val (p, ps) = hashes(i)
      val (pn, _) = hashes((i + 1) % N)
      (i.toLong, p, java.lang.Long.bitCount(p ^ ps).toLong,
        java.lang.Long.bitCount(p ^ pn).toLong)
    }
  }

  /** The mm_phash_neardup hash corpus from the raw pixel definition
   *  via [[refPhash64]]: base images on id = i, brightness-shifted
   *  variants on the disjoint id = -(i+1) keyspace (the query's
   *  convention) — the oracle's VALUES rows and the spec's
   *  brute-force ground-truth input. */
  def expectedNeardupHashes(shift: Int): Seq[(Long, Long)] =
    (0 until N).flatMap { i =>
      val (w, h) = dims(i)
      def lum(x: Int, y: Int): Int = {
        val (r, g, b) = rgb(i, x, y); (r + g + b) / 3
      }
      Seq((i.toLong, refPhash64(lum, w, h)),
        (-(i.toLong + 1),
          refPhash64((x, y) => math.min(255, lum(x, y) + shift), w, h)))
    }

  /** A real PNG encoding of image i's pixels. */
  def pngBytes(i: Int): Array[Byte] = {
    val (w, h) = dims(i)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = rgb(i, x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** One-shot generator: writes the fixture parquet (single file — the
   *  corpus is KBs and commits as one object). Idempotent by
   *  construction: every byte is a function of the constants above. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(Path)
    val spark = graft.GraftSession("graft-png-fixture")
    import spark.implicits._
    (0 until N).map(i => (i.toLong, pngBytes(i)))
      .toDF("img_id", "png")
      .coalesce(1).write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
