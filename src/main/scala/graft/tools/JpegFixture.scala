package graft.tools

/**
 * Deterministic committed corpus of REAL encoded JPEGs — the second
 * image-codec fixture next to [[PngFixture]]: JPEG is the dominant
 * real-world interchange format and exercises a genuinely different
 * decoder (DCT blocks, quantization, chroma subsampling, optional
 * progressive scans) than PNG's lossless filter+deflate path.
 *
 * JPEG is LOSSY, so the PngFixture device — oracle literals from raw
 * pixel arithmetic, exact hash compare — needs the tolerance
 * ENGINEERED INTO THE FIXTURE rather than bolted onto the compare:
 *
 *   - every image is a mosaic of 16×16-aligned FLAT GRAY blocks.
 *     Gray means neutral chroma (Cb = Cr = 128 exactly), so 4:2:0
 *     subsampling and chroma quantization contribute zero error; a
 *     flat block has only a DC coefficient, so there is no ringing
 *     and the whole block decodes to one value. 16-alignment keeps
 *     every 8×8 luma block AND every chroma macroblock inside one
 *     flat region.
 *   - block gray levels sit MID-BIN of the decode query's 16-level
 *     luminance histogram (lum ≡ 8 mod 16), so the decoded value
 *     must drift by ≥ 8 levels to flip a bin. Flat-block DC error at
 *     quality 0.95 is < 1 level — a ×8 safety margin.
 *
 * The oracle rows below therefore remain pure pixel-definition
 * arithmetic — no JPEG bytes, no ImageIO — and the gated query still
 * does an exact hash compare: the decoder must reproduce every
 * block's gray bin and the exact dimensions. Images with
 * `i % 4 == 3` are written PROGRESSIVE (multi-scan), pinning the
 * decoder's progressive path on the same arithmetic.
 */
object JpegFixture {
  val N = 32
  val Block = 16
  val Path: String = sys.env.getOrElse("GRAFT_JPEG_FIXTURE",
    "/root/repo/data/jpeg_fixture.parquet")

  /** Dimensions are multiples of [[Block]] so every luma and chroma
   *  block falls inside one flat region. */
  def dims(i: Int): (Int, Int) = (Block * (1 + i % 4), Block * (1 + (i * 3) % 4))

  /** Mid-bin gray level of the 16×16 block at block-coords (bx, by):
   *  bin picked by a deterministic sweep (all 16 bins are hit across
   *  the corpus), level anchored at bin·16 + 8. */
  def grayLevel(i: Int, bx: Int, by: Int): Int =
    ((i * 5 + bx * 3 + by * 7) % 16) * 16 + 8

  /** (img_id, width, height, hist_csv) from the raw block definition —
   *  the oracle side; must never touch JPEG bytes or ImageIO. Each
   *  flat block contributes Block² pixels to its mid-anchored bin. */
  def expectedRows: Seq[(Long, Int, Int, String)] =
    (0 until N).map { i =>
      val (w, h) = dims(i)
      val hist = new Array[Long](16)
      var by = 0
      while (by < h / Block) {
        var bx = 0
        while (bx < w / Block) {
          hist(grayLevel(i, bx, by) >> 4) += (Block.toLong * Block)
          bx += 1
        }
        by += 1
      }
      (i.toLong, w, h, hist.mkString(","))
    }

  /** A real JPEG encoding of image i's blocks: quality 0.95, baseline
   *  for most ids, PROGRESSIVE for i % 4 == 3. */
  def jpegBytes(i: Int): Array[Byte] =
    encodeJpeg(grayMosaic(dims(i)._1, dims(i)._2,
      (bx, by) => grayLevel(i, bx, by)), progressive = i % 4 == 3)

  /** Flat gray [[Block]]-mosaic image from a block-level function —
   *  the pixel fill the exactness argument rests on, shared with
   *  [[AviFixture]]'s per-frame variant. */
  private[tools] def grayMosaic(w: Int, h: Int,
      level: (Int, Int) => Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = level(x / Block, y / Block)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    img
  }

  /** ONE encoder definition (quality 0.95, explicit compression mode)
   *  for every fixture that leans on the flat-mid-bin exactness
   *  margin — a quality tweak applied to one fixture can no longer
   *  silently invalidate another's oracle. */
  private[tools] def encodeJpeg(img: java.awt.image.BufferedImage,
      progressive: Boolean): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(0.95f)
    if (progressive)
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** One-shot generator: writes the fixture parquet (single file — the
   *  corpus is tens of KB and commits as one object). Idempotent by
   *  construction: every byte is a function of the constants above. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(Path)
    val spark = graft.GraftSession("graft-jpeg-fixture")
    import spark.implicits._
    (0 until N).map(i => (i.toLong, jpegBytes(i)))
      .toDF("img_id", "jpeg")
      .coalesce(1).write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
