package graft.tools

/**
 * Deterministic committed corpus of REAL MJPEG-in-AVI clips — the
 * decoded-pixels VIDEO rung next to [[Mp4Fixture]]'s container probe:
 * MJPEG stores each frame as an independent baseline JPEG, so a RIFF
 * walker plus `javax.imageio` (both JDK-public) decode genuine video
 * frames with zero external codecs — the honest end of the video
 * spectrum in this environment, where inter-frame codecs have no JDK
 * decoder and stay behind the transcode-farm routing boundary
 * [[MultimodalOps.probeMp4Partitioned]] serves.
 *
 * Exactness rides the [[JpegFixture]] device: every frame is a mosaic
 * of 16×16-aligned FLAT GRAY blocks at MID-BIN levels (lum ≡ 8 mod
 * 16), so 4:2:0 subsampling, chroma quantization, and DC rounding
 * contribute < 1 level of error against an 8-level margin — the
 * decode query's 16-bin histogram is exact and the oracle stays pure
 * block-definition arithmetic with an exact hash compare. Frames vary
 * WITHIN a clip (the block sweep includes the frame index), so a
 * decoder that reads one frame and multiplies fails the gate.
 *
 * The container is a genuine RIFF AVI per the public MS layout:
 * `RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf))
 * LIST('movi' 00dc...))` with little-endian sizes, even-byte chunk
 * padding (frame JPEGs have odd lengths whenever entropy coding lands
 * there — the pad path is exercised), a 'vids'/'MJPG' stream header,
 * and the frame clock in avih.dwMicroSecPerFrame (also mirrored as
 * strh scale/rate) — the metadata the decode query extracts.
 */
object AviFixture {
  val N = 16
  val Block = 16
  val Path: String = sys.env.getOrElse("GRAFT_AVI_FIXTURE",
    "/root/repo/data/avi_fixture.parquet")

  /** Frame dimensions for clip i — multiples of [[Block]] so every
   *  luma and chroma block falls inside one flat region. */
  def dims(i: Int): (Int, Int) =
    (Block * (1 + i % 3), Block * (1 + (i * 2) % 3))

  /** Frames per clip: 2..5 — small enough to commit, enough that the
   *  per-frame sweep distinguishes real multi-frame decode from
   *  first-frame-times-n. */
  def frames(i: Int): Int = 2 + i % 4

  /** The container frame clock (microseconds per frame). */
  def usPerFrame(i: Int): Long = 33333L + i * 1000L

  /** Mid-bin gray level of frame f's block at block-coords (bx, by) —
   *  the [[JpegFixture.grayLevel]] sweep extended by the frame index
   *  so every frame differs. */
  def grayLevel(i: Int, f: Int, bx: Int, by: Int): Int =
    ((i * 5 + f * 11 + bx * 3 + by * 7) % 16) * 16 + 8

  /** (clip_id, n_frames, width, height, us_per_frame, hist_csv) from
   *  the raw block definition — the oracle side; must never touch AVI
   *  bytes or ImageIO. The histogram accumulates over ALL frames. */
  def expectedRows: Seq[(Long, Long, Int, Int, Long, String)] =
    (0 until N).map { i =>
      val (w, h) = dims(i)
      val hist = new Array[Long](16)
      var f = 0
      while (f < frames(i)) {
        var by = 0
        while (by < h / Block) {
          var bx = 0
          while (bx < w / Block) {
            hist(grayLevel(i, f, bx, by) >> 4) += (Block.toLong * Block)
            bx += 1
          }
          by += 1
        }
        f += 1
      }
      (i.toLong, frames(i).toLong, w, h, usPerFrame(i), hist.mkString(","))
    }

  /** A real baseline JPEG encoding of clip i's frame f (MJPEG frames
   *  are baseline in practice) — [[JpegFixture.encodeJpeg]], the ONE
   *  encoder definition the flat-mid-bin exactness margin rests on,
   *  over the per-frame block mosaic. */
  def jpegFrame(i: Int, f: Int): Array[Byte] =
    JpegFixture.encodeJpeg(
      JpegFixture.grayMosaic(dims(i)._1, dims(i)._2,
        (bx, by) => grayLevel(i, f, bx, by)),
      progressive = false)

  private[graft] def le32(v: Long): Array[Byte] = Array(
    (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
    ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)

  private[graft] def fcc(s: String): Array[Byte] = {
    require(s.length == 4); s.getBytes("US-ASCII")
  }

  /** A RIFF chunk: fourcc + LE size + body + even-byte pad. */
  private[graft] def chunk(cc: String, body: Array[Byte]): Array[Byte] =
    fcc(cc) ++ le32(body.length.toLong) ++ body ++
      (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])

  /** A RIFF LIST: a 'LIST' chunk whose body is listType + children. */
  private[graft] def list(listType: String, children: Array[Byte]): Array[Byte] =
    chunk("LIST", fcc(listType) ++ children)

  /** A genuine RIFF AVI container for clip i. */
  def aviBytes(i: Int): Array[Byte] =
    mux((0 until frames(i)).map(f => jpegFrame(i, f)),
      dims(i)._1, dims(i)._2, usPerFrame(i), rec = i % 3 == 2)

  /** The ONE RIFF AVI muxer around already-encoded MJPEG frames —
   *  shared by [[aviBytes]] and [[VideoRemuxFixture]] so the two
   *  committed AVI corpora can never drift structurally: the public
   *  MS layout (`RIFF('AVI ' LIST('hdrl' ...) LIST('movi' ...))`),
   *  even-byte chunk padding, 'vids'/'MJPG' stream header, the frame
   *  clock mirrored in avih and strh; `rec` wraps the frames in the
   *  standard LIST('rec ') CD-ROM interleave grouping. */
  private[tools] def mux(jpegs: Seq[Array[Byte]], w: Int, h: Int,
      usPerFrame: Long, rec: Boolean): Array[Byte] = {
    val n = jpegs.length
    val avih = chunk("avih",
      le32(usPerFrame) ++ le32(0L) ++ le32(0L) ++ le32(0L) ++
        le32(n.toLong) ++ le32(0L) ++ le32(1L) ++ le32(0L) ++
        le32(w.toLong) ++ le32(h.toLong) ++
        le32(0L) ++ le32(0L) ++ le32(0L) ++ le32(0L))
    val strh = chunk("strh",
      fcc("vids") ++ fcc("MJPG") ++ le32(0L) ++ le16(0) ++ le16(0) ++
        le32(0L) ++ le32(usPerFrame) /* dwScale */ ++
        le32(1000000L) /* dwRate: frames/s = rate/scale */ ++
        le32(0L) ++ le32(n.toLong) ++ le32(0L) ++
        le32(0xFFFFFFFFL) /* dwQuality: default */ ++ le32(0L) ++
        le16(0) ++ le16(0) ++ le16(w) ++ le16(h))
    val strf = chunk("strf",
      le32(40L) ++ le32(w.toLong) ++ le32(h.toLong) ++ le16(1) ++
        le16(24) ++ fcc("MJPG") ++ le32(w.toLong * h * 3) ++
        le32(0L) ++ le32(0L) ++ le32(0L) ++ le32(0L))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val frames00 = jpegs.map(j => chunk("00dc", j)).reduce(_ ++ _)
    // rec-wrapped clips gate the walker's one-level LIST('rec ')
    // CD-ROM interleave descent (stats are grouping-invariant —
    // expectedRows needs no case split)
    val movi = list("movi",
      if (rec) list("rec ", frames00) else frames00)
    val payload = fcc("AVI ") ++ hdrl ++ movi
    fcc("RIFF") ++ le32(payload.length.toLong) ++ payload
  }

  /** One-shot generator: writes the fixture parquet (single file — the
   *  corpus is tens of KB and commits as one object). Idempotent by
   *  construction: every byte is a function of the constants above. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(Path)
    val spark = graft.GraftSession("graft-avi-fixture")
    import spark.implicits._
    (0 until N).map(i => (i.toLong, aviBytes(i)))
      .toDF("clip_id", "avi")
      .coalesce(1).write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
