package graft.tools

/**
 * Deterministic committed MIXED-CONTAINER video corpus — the
 * cross-container ground truth for `mm_video_neardup`: the same clip
 * content committed once as an animated GIF and once as an MJPEG-AVI
 * RE-MUX, which MUST pair (a video-dedup operator that only matches
 * within one container misses the most common real duplicate — the
 * same footage re-encoded for a different player). The reference
 * pipeline's data model treats payload bytes as opaque binary with
 * the container sniffed at decode (storm-bench reads whatever bytes
 * the spout hands it); this fixture pins the engine's sniffing
 * dispatch (`MultimodalOps.clipPhashes`) end to end.
 *
 * EXACTNESS across both codecs: every frame is a mosaic of
 * 16×16-aligned FLAT GRAY blocks at MID-BIN levels (the
 * [[JpegFixture]] device). Grayscale GIF round-trips losslessly
 * ([[GifFixture]] contract); flat mid-bin blocks round-trip the JDK
 * JPEG codec at quality 0.95 PIXEL-EXACTLY (measured: 0 non-exact
 * pixels across the full dims/level sweep — a flat block has only a
 * DC coefficient and gray means neutral chroma, so there is nothing
 * to ring or subsample). Both containers therefore decode to the
 * IDENTICAL raw block definition, the re-mux pair's aligned hamming
 * is exactly 0, and the oracle stays pure raw-pixel arithmetic
 * through the independent [[PngFixture.refPhash64]] — no GIF bytes,
 * no JPEG bytes, no ImageIO.
 *
 * Clip id layout (ids offset by [[IdBase]] to stay disjoint from
 * [[VideoDupFixture]]'s 0..22 — the two corpora UNION into one
 * mm_video_neardup input):
 *   - IdBase + i          (i < M)  GIF encoding of base content i;
 *   - IdBase + M + i      (i < M)  MJPEG-AVI re-mux of base content
 *     i — identical pixels, MUST pair with its GIF sibling at
 *     aligned hamming 0 (every third re-mux rec-wrapped, gating the
 *     walker's interleave descent inside the dedup path too);
 *   - IdBase + 2M         TRUNCATED AVI decoy: base 0 minus its last
 *     frame — every aligned frame IDENTICAL to the GIF sibling's,
 *     only the frame-count equality rejects it (the cross-container
 *     form of [[VideoDupFixture]]'s truncated decoy).
 *
 * Base contents are decorrelated by clip-dependent spatial
 * frequencies (bx/by coefficients vary with i), so clips of
 * DIFFERENT content sit far outside the hamming radius on at least
 * one aligned frame — spec-verified from [[expectedFramePhashes]].
 */
object VideoRemuxFixture {
  /** Distinct base contents (total corpus = 2M + 1 clips). */
  val M = 6
  /** First clip id — disjoint from VideoDupFixture's 0..Total-1. */
  val IdBase = 100L
  /** Flat-block edge — PINNED to [[JpegFixture.Block]] (grayMosaic
   *  fills blocks at that stride); dims are multiples, so JPEG
   *  macroblocks stay inside one flat region. */
  val Block: Int = JpegFixture.Block

  val Path: String = sys.env.getOrElse("GRAFT_VIDEOREMUX_FIXTURE",
    "/root/repo/data/videoremux_fixture.parquet")

  /** Total clips committed. */
  val Total: Int = 2 * M + 1

  /** Frame dimensions of base content i: 32..64 px per side (≥ 2
   *  blocks per side — a single-block frame is FLAT and its DCT hash
   *  degenerates to median ties). */
  def dims(i: Int): (Int, Int) =
    (Block * (2 + i % 3), Block * (2 + (i * 2) % 3))

  /** Frames per base content: 3..5. */
  def frames(i: Int): Int = 3 + i % 3

  /** The container frame clock of the AVI re-muxes. */
  def usPerFrame(i: Int): Long = 40000L + i * 1000L

  /** Mid-bin gray level of base content i, frame f, block (bx, by) —
   *  frequencies depend on i so equal-frame-count contents (i, i+3)
   *  differ STRUCTURALLY, not by a near-uniform level shift a
   *  perceptual hash would (correctly) ignore. */
  def grayLevel(i: Int, f: Int, bx: Int, by: Int): Int =
    ((i * 5 + f * 11 + bx * (3 + 2 * (i % 5)) + by * (7 + 4 * (i % 3)))
      % 16) * 16 + 8

  /** (base content, n_frames) for ANY clip id in the layout. */
  private def clipDef(id: Int): (Int, Int) =
    if (id < M) (id, frames(id))
    else if (id < 2 * M) (id - M, frames(id - M))
    else (0, frames(0) - 1) // truncated AVI decoy of base 0

  /** Per-frame perceptual hashes of EVERY committed clip from the raw
   *  block definition via [[PngFixture.refPhash64]] — both containers
   *  decode to these exact pixels (see the exactness argument above),
   *  so these rows are the mm_video_neardup oracle's VALUES literals
   *  and the spec's brute-force ground truth. */
  def expectedFramePhashes: Seq[(Long, Long, Long)] =
    (0 until Total).flatMap { id =>
      val (base, n) = clipDef(id)
      val (w, h) = dims(base)
      (0 until n).map { f =>
        (IdBase + id, f.toLong,
          PngFixture.refPhash64(
            (x, y) => grayLevel(base, f, x / Block, y / Block), w, h))
      }
    }

  /** The committed payload of clip (IdBase + id): a real animated
   *  GIF89a for ids < M, a real MJPEG-AVI (the [[AviFixture.mux]]
   *  layout, [[JpegFixture.encodeJpeg]] frames) otherwise. */
  def videoBytes(id: Int): Array[Byte] = {
    val (base, n) = clipDef(id)
    val (w, h) = dims(base)
    if (id < M)
      VideoDupFixture.gifMux((0 until n).map { f =>
        JpegFixture.grayMosaic(w, h,
          (bx, by) => grayLevel(base, f, bx, by))
      })
    else
      AviFixture.mux(
        (0 until n).map { f =>
          JpegFixture.encodeJpeg(
            JpegFixture.grayMosaic(w, h,
              (bx, by) => grayLevel(base, f, bx, by)),
            progressive = false)
        }, w, h, usPerFrame(base), rec = id % 3 == 2)
  }

  /** One-shot generator: writes the fixture parquet (single file —
   *  the corpus is KBs and commits as one object). Idempotent by
   *  construction: every byte is a function of the constants above. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(Path)
    val spark = graft.GraftSession("graft-video-remux-fixture")
    import spark.implicits._
    (0 until Total).map(i => (IdBase + i, videoBytes(i)))
      .toDF("clip_id", "video")
      .coalesce(1).write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
