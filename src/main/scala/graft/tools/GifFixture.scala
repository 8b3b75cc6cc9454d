package graft.tools

/**
 * Deterministic committed corpus of REAL animated GIFs — the LOSSLESS
 * multi-frame rung beside [[AviFixture]]'s MJPEG clips: GIF stores
 * indexed color, and a grayscale frame uses at most 256 palette
 * entries, so the JDK's own `javax.imageio` GIF writer/reader pair
 * round-trips every pixel EXACTLY (probe-verified) — no engineered
 * mid-bin tolerance device needed, the one codec in the family whose
 * decode gate is exact by construction rather than by margin.
 *
 * Every clip is a pure function of its id: [[dims]]/[[frames]] pick
 * the shape, [[grayLevel]] the PER-PIXEL gray sweep (no block
 * alignment — lossless needs none), [[delayCs]] the per-frame
 * GraphicControlExtension delay in centiseconds (the GIF wire unit).
 * [[expectedRows]] computes the decode query's statistics from the
 * raw pixel definition — no GIF bytes, no ImageIO — and the DuckDB
 * oracle embeds them as VALUES literals, so the gated query passes
 * iff the committed bytes genuinely round-trip the encoder.
 */
object GifFixture {
  val N = 16
  val Path: String = sys.env.getOrElse("GRAFT_GIF_FIXTURE",
    "/root/repo/data/gif_fixture.parquet")

  /** Frame dimensions for clip i. */
  def dims(i: Int): (Int, Int) = (8 + (i % 5) * 6, 8 + ((i * 3) % 5) * 4)

  /** Frames per clip: 2..5 (multi-frame decode, small commit). */
  def frames(i: Int): Int = 2 + i % 4

  /** Per-frame delay (centiseconds — the GIF wire unit). */
  def delayCs(i: Int): Int = 5 + i

  /** PER-PIXEL gray level of clip i, frame f at (x, y) — frames
   *  differ within a clip, so first-frame-times-n fails the gate. */
  def grayLevel(i: Int, f: Int, x: Int, y: Int): Int =
    (i * 7 + f * 31 + x * 3 + y * 5) % 256

  /** (clip_id, n_frames, width, height, total_delay_cs, hist_csv)
   *  from the raw pixel definition — the oracle side; must never
   *  touch GIF bytes or ImageIO. Histogram = 16-bin luminance over
   *  ALL frames (gray >> 4 — exact, the codec is lossless). */
  def expectedRows: Seq[(Long, Long, Int, Int, Long, String)] =
    (0 until N).map { i =>
      val (w, h) = dims(i)
      val hist = new Array[Long](16)
      var f = 0
      while (f < frames(i)) {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            hist(grayLevel(i, f, x, y) >> 4) += 1L
            x += 1
          }
          y += 1
        }
        f += 1
      }
      (i.toLong, frames(i).toLong, w, h,
        frames(i).toLong * delayCs(i), hist.mkString(","))
    }

  /** A real animated GIF89a encoding of clip i via the JDK writer —
   *  one GraphicControlExtension (the frame delay) per frame. */
  def gifBytes(i: Int): Array[Byte] = {
    val (w, h) = dims(i)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (f <- 0 until frames(i)) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = grayLevel(i, f, x, y)
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val p = writer.getDefaultWriteParam
      val md = writer.getDefaultImageMetadata(
        new javax.imageio.ImageTypeSpecifier(img), p)
      val fmt = md.getNativeMetadataFormatName
      val root = md.getAsTree(fmt)
        .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      val gce = new javax.imageio.metadata.IIOMetadataNode(
        "GraphicControlExtension")
      gce.setAttribute("disposalMethod", "none")
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("delayTime", delayCs(i).toString)
      gce.setAttribute("transparentColorIndex", "0")
      root.appendChild(gce)
      md.setFromTree(fmt, root)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, md), p)
    }
    writer.endWriteSequence()
    ios.close()
    bos.toByteArray
  }

  /** One-shot generator: writes the fixture parquet (single file — the
   *  corpus is KBs and commits as one object). Idempotent by
   *  construction: every byte is a function of the constants above. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(Path)
    val spark = graft.GraftSession("graft-gif-fixture")
    import spark.implicits._
    (0 until N).map(i => (i.toLong, gifBytes(i)))
      .toDF("clip_id", "gif")
      .coalesce(1).write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
