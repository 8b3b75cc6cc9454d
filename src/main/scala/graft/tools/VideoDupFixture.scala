package graft.tools

/**
 * Deterministic committed corpus of REAL animated GIFs with built-in
 * NEAR-DUPLICATE ground truth — the video-dedup sibling of
 * [[PngFixture]]'s brightness-shifted image pairs. [[GifFixture]]'s
 * per-pixel sawtooth sweep is deliberately noise-like (it exercises
 * the histogram decode gate), which makes its DCT perceptual hash
 * maximally UNSTABLE under perturbation (measured: a +8 brightness
 * shift moves per-frame hashes 17–33 bits) — real video is smooth,
 * so this corpus uses LOW-FREQUENCY planar ramps whose direction
 * rotates per frame, the regime pHash is designed for.
 *
 * Clip id layout (every byte a pure function of the id):
 *   - 0 .. N-1            base clips: [[frames]] smooth frames each,
 *     the ramp direction a function of (clip, frame) so frames
 *     DIFFER structurally within a clip and across clips;
 *   - N .. 2N-1           near-dup variants: base (id − N) with every
 *     pixel exactly [[VariantDelta]] brighter (never clamps — the
 *     gray range tops out at 210) — same frame count, tiny aligned
 *     per-frame hamming: MUST pair with its base;
 *   - 2N .. 2N+PermN-1    PERMUTED decoys: base (id − 2N)'s frames
 *     rotated by one position — same frames, wrong ORDER: temporal
 *     alignment must reject them;
 *   - 2N+PermN            TRUNCATED decoy: base 0 minus its last
 *     frame — every aligned frame is IDENTICAL (hamming 0), only the
 *     frame-count equality rejects it.
 */
object VideoDupFixture {
  /** Base clips (total corpus = 2N + PermN + 1 = 23 clips). */
  val N = 10
  /** Frame-permuted decoys (bases 0 .. PermN-1). */
  val PermN = 2
  /** Per-pixel brightness delta of the near-dup variants. */
  val VariantDelta = 10

  val Path: String = sys.env.getOrElse("GRAFT_VIDEODUP_FIXTURE",
    "/root/repo/data/videodup_fixture.parquet")

  /** Total clips committed. */
  val Total: Int = 2 * N + PermN + 1

  /** Frame dimensions of base clip i (≥ 16 px — comfortably above
   *  the 32-sample grid's aliasing floor for smooth content). */
  def dims(i: Int): (Int, Int) = (16 + (i % 4) * 8, 16 + ((i * 3) % 4) * 6)

  /** Frames per base clip: 3..5. */
  def frames(i: Int): Int = 3 + i % 3

  /** Smooth gray level of BASE clip i, frame f at (x, y): a planar
   *  ramp 40..210 whose direction (a, b) rotates with the frame index
   *  and shifts with the clip — low-frequency by construction, so the
   *  DCT energy sits in the hashed 8×8 block and a constant
   *  brightness delta moves (almost) only the DC coefficient. */
  def grayLevel(i: Int, f: Int, x: Int, y: Int): Int = {
    val (w, h) = dims(i)
    val a = 1 + f + (i % 3)
    val b = 1 + (frames(i) - f) + ((i * 2) % 5)
    40 + (x * a + y * b) * 170 / ((w - 1) * a + (h - 1) * b)
  }

  /** (base clip, n_frames, pixel fn) for ANY clip id in the layout —
   *  the single definition [[gifBytes]] and [[expectedFramePhashes]]
   *  share. The pixel fn is (f, x, y) ⇒ gray. */
  private def clipDef(id: Int): (Int, Int, (Int, Int, Int) => Int) =
    if (id < N) // base
      (id, frames(id), (f, x, y) => grayLevel(id, f, x, y))
    else if (id < 2 * N) { // brightness variant
      val b = id - N
      (b, frames(b), (f, x, y) => grayLevel(b, f, x, y) + VariantDelta)
    } else if (id < 2 * N + PermN) { // frame-rotation decoy
      val b = id - 2 * N
      (b, frames(b), (f, x, y) => grayLevel(b, (f + 1) % frames(b), x, y))
    } else // truncated decoy of base 0
      (0, frames(0) - 1, (f, x, y) => grayLevel(0, f, x, y))

  /** Per-frame perceptual hashes of EVERY committed clip from the raw
   *  pixel definition via [[PngFixture.refPhash64]] (the fixtures'
   *  independent DCT reference — no GIF bytes, no ImageIO, no
   *  MultimodalOps; grayscale GIF round-trips losslessly, the
   *  [[GifFixture]] contract): (clip_id, frame, phash) — the
   *  mm_video_neardup oracle's VALUES rows and the spec's brute-force
   *  ground-truth input. */
  def expectedFramePhashes: Seq[(Long, Long, Long)] =
    (0 until Total).flatMap { id =>
      val (base, n, pix) = clipDef(id)
      val (w, h) = dims(base)
      (0 until n).map { f =>
        (id.toLong, f.toLong,
          PngFixture.refPhash64((x, y) => pix(f, x, y), w, h))
      }
    }

  /** A real animated GIF89a encoding of clip id via the JDK writer. */
  def gifBytes(id: Int): Array[Byte] = {
    val (base, n, pix) = clipDef(id)
    val (w, h) = dims(base)
    gifMux((0 until n).map { f =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = pix(f, x, y)
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      img
    })
  }

  /** The ONE animated-GIF89a sequence writer — shared by [[gifBytes]]
   *  and [[VideoRemuxFixture]] (grayscale indexed color round-trips
   *  losslessly, the [[GifFixture]] contract both corpora's oracles
   *  rest on). */
  private[tools] def gifMux(
      imgs: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    imgs.foreach { img =>
      writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null),
        writer.getDefaultWriteParam)
    }
    writer.endWriteSequence()
    ios.close()
    bos.toByteArray
  }

  /** One-shot generator: writes the fixture parquet (single file —
   *  the corpus is KBs and commits as one object). Idempotent by
   *  construction: every byte is a function of the constants above. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(Path)
    val spark = graft.GraftSession("graft-video-dup-fixture")
    import spark.implicits._
    (0 until Total).map(i => (i.toLong, gifBytes(i)))
      .toDF("clip_id", "gif")
      .coalesce(1).write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
