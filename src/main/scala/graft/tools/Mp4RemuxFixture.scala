package graft.tools

/**
 * Deterministic committed MJPEG-in-MP4 corpus — the THIRD video
 * container joining [[VideoDupFixture]] (GIF) and
 * [[VideoRemuxFixture]] (GIF + MJPEG-AVI) in `mm_video_neardup`'s
 * mixed union, and the decoded-frames rung `mm_frames_mp4` gates
 * end to end (lifting [[Mp4Fixture]]'s probe-only scope: a
 * photo-JPEG ('jpeg') sample table needs no inter-frame codec, so
 * the engine decodes it with the exact JPEG machinery the AVI walk
 * already owns — ISO/IEC 14496-12 sample tables are public layout).
 *
 * Every clip's PIXELS are [[VideoRemuxFixture]]'s base contents
 * verbatim (same grayLevel/dims/frames functions), so each MP4 here
 * MUST pair with BOTH its GIF sibling (VideoRemuxFixture.IdBase + i)
 * and its AVI sibling (+ M + i) at aligned hamming 0 — the fixture
 * turns the two-container dedup proof into a three-container one
 * with zero new pixel arithmetic and the SAME raw-definition oracle
 * ([[VideoRemuxFixture.expectedFramePhashes]]'s exactness argument:
 * flat mid-bin mosaics round-trip the JDK JPEG codec pixel-exactly).
 *
 * Clip id layout (disjoint from VideoDupFixture's 0..22 and
 * VideoRemuxFixture's 100..112):
 *   - IdBase + i   (i < M)  MJPEG-MP4 re-mux of base content i —
 *     EVEN i lays one sample per chunk (stco-driven offsets), ODD i
 *     packs the whole clip into ONE chunk (stsz-driven within-chunk
 *     offset accumulation), so both stsc expansion paths sit inside
 *     the dedup loop;
 *   - IdBase + M            CODEC DECOY: the same boxes with an
 *     'avc1' stsd entry — an inter-frame codec the JDK cannot
 *     decode, so the clip must QUARANTINE for the transcode farm
 *     (the routing boundary pin), never pair, never enter a
 *     histogram.
 */
object Mp4RemuxFixture {
  /** Base contents — PINNED to [[VideoRemuxFixture.M]] (every MP4
   *  re-muxes one of its contents). */
  val M: Int = VideoRemuxFixture.M
  /** First clip id — disjoint from both GIF/AVI corpora. */
  val IdBase = 200L

  val Path: String = sys.env.getOrElse("GRAFT_MP4REMUX_FIXTURE",
    "/root/repo/data/mp4remux_fixture.parquet")

  /** Total clips committed (M re-muxes + the codec decoy). */
  val Total: Int = M + 1

  /** Media timescale: microsecond ticks, so the container clock
   *  round-trips [[VideoRemuxFixture.usPerFrame]] exactly. */
  val Timescale = 1000000L

  /** Per-frame perceptual hashes of every DECODABLE committed clip —
   *  [[VideoRemuxFixture]]'s raw block definition re-keyed to this
   *  corpus's ids (the decoy contributes none: it quarantines). */
  def expectedFramePhashes: Seq[(Long, Long, Long)] =
    (0 until M).flatMap { i =>
      val (w, h) = VideoRemuxFixture.dims(i)
      (0 until VideoRemuxFixture.frames(i)).map { f =>
        (IdBase + i, f.toLong,
          PngFixture.refPhash64(
            (x, y) => VideoRemuxFixture.grayLevel(i, f,
              x / VideoRemuxFixture.Block, y / VideoRemuxFixture.Block),
            w, h))
      }
    }

  /** (clip_id, n_frames, width, height, us_per_frame, hist_csv) from
   *  the raw block definition — the `mm_frames_mp4` oracle side (no
   *  MP4 bytes, no ImageIO); the decoy contributes its QUARANTINE
   *  sentinel row (the oracle pins the routing, not just the happy
   *  path). */
  def expectedRows: Seq[(Long, Long, Int, Int, Long, String)] =
    (0 until M).map { i =>
      val (w, h) = VideoRemuxFixture.dims(i)
      val hist = new Array[Long](16)
      var f = 0
      while (f < VideoRemuxFixture.frames(i)) {
        var by = 0
        while (by < h / VideoRemuxFixture.Block) {
          var bx = 0
          while (bx < w / VideoRemuxFixture.Block) {
            hist(VideoRemuxFixture.grayLevel(i, f, bx, by) >> 4) +=
              (VideoRemuxFixture.Block.toLong * VideoRemuxFixture.Block)
            bx += 1
          }
          by += 1
        }
        f += 1
      }
      (IdBase + i, VideoRemuxFixture.frames(i).toLong, w, h,
        VideoRemuxFixture.usPerFrame(i), hist.mkString(","))
    } :+ ((IdBase + M, -1L, -1, -1, -1L, ""))

  // ---- box assembly (ISO/IEC 14496-12 §4.2: big-endian u32 size
  // includes the 8-byte header)

  private def be32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
    ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def box(tpe: String, payload: Array[Byte]): Array[Byte] =
    be32(payload.length + 8L) ++ tpe.getBytes("US-ASCII") ++ payload

  private def mvhd(duration: Long): Array[Byte] = box("mvhd",
    be32(0) ++ be32(0) ++ be32(0) ++
      be32(Timescale) ++ be32(duration) ++
      be32(0x00010000L) ++ be16(0x0100) ++ be16(0) ++
      be32(0) ++ be32(0) ++
      be32(0x00010000L) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000L) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000L) ++
      Array.fill(24)(0.toByte) ++ be32(2))

  private def tkhd(duration: Long, w: Int, h: Int): Array[Byte] =
    box("tkhd",
      be32(7) ++ be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++
        be32(duration) ++ be32(0) ++ be32(0) ++
        be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++
        be32(0x00010000L) ++ be32(0) ++ be32(0) ++
        be32(0) ++ be32(0x00010000L) ++ be32(0) ++
        be32(0) ++ be32(0) ++ be32(0x40000000L) ++
        be32(w.toLong << 16) ++ be32(h.toLong << 16))

  private def mdhd(duration: Long): Array[Byte] = box("mdhd",
    be32(0) ++ be32(0) ++ be32(0) ++ be32(Timescale) ++ be32(duration) ++
      be16(0x55C4) ++ be16(0)) // language 'und', pre_defined

  private def hdlr: Array[Byte] = box("hdlr",
    be32(0) ++ be32(0) ++ "vide".getBytes("US-ASCII") ++
      Array.fill(12)(0.toByte) ++ "g".getBytes("US-ASCII") ++ Array(0.toByte))

  /** 86-byte VisualSampleEntry with the given codec fourcc. */
  private def sampleEntry(codec: String, w: Int, h: Int): Array[Byte] =
    be32(86L) ++ codec.getBytes("US-ASCII") ++
      Array.fill(6)(0.toByte) ++ be16(1) ++ // reserved, data_ref_idx
      be16(0) ++ be16(0) ++ be32(0) ++ be32(0) ++ be32(0) ++
      be16(w) ++ be16(h) ++
      be32(0x00480000L) ++ be32(0x00480000L) ++ be32(0) ++ be16(1) ++
      Array.fill(32)(0.toByte) ++ // compressorname
      be16(24) ++ be16(0xFFFF) // depth, pre_defined −1

  /** The committed payload of clip (IdBase + id): ftyp + mdat (frame
   *  JPEGs back to back) + moov whose sample tables index them.
   *  mdat precedes moov so chunk offsets are known when the tables
   *  are laid out. */
  def mp4Bytes(id: Int): Array[Byte] = {
    val base = if (id < M) id else 0
    val codec = if (id < M) "jpeg" else "avc1"
    val (w, h) = VideoRemuxFixture.dims(base)
    val n = VideoRemuxFixture.frames(base)
    val frames = (0 until n).map { f =>
      JpegFixture.encodeJpeg(
        JpegFixture.grayMosaic(w, h,
          (bx, by) => VideoRemuxFixture.grayLevel(base, f, bx, by)),
        progressive = false)
    }
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ be32(0x200) ++
        "isom".getBytes("US-ASCII") ++ "mp42".getBytes("US-ASCII"))
    val mdat = box("mdat", frames.reduce(_ ++ _))
    val mdatPayloadAt = ftyp.length + 8L
    val delta = VideoRemuxFixture.usPerFrame(base)
    val duration = delta * n
    val packed = id % 2 == 1 // ONE chunk for odd ids, 1/sample even
    val offsets =
      if (packed) Seq(mdatPayloadAt)
      else frames.scanLeft(mdatPayloadAt)(_ + _.length).init
    val stts = box("stts", be32(0) ++ be32(1) ++ be32(n.toLong) ++ be32(delta))
    val stsc = box("stsc", be32(0) ++ be32(1) ++
      be32(1) ++ be32(if (packed) n.toLong else 1L) ++ be32(1))
    val stsz = box("stsz", be32(0) ++ be32(0) ++ be32(n.toLong) ++
      frames.map(fr => be32(fr.length.toLong)).reduce(_ ++ _))
    val stco = box("stco", be32(0) ++ be32(offsets.length.toLong) ++
      offsets.map(be32).reduce(_ ++ _))
    val stsd = box("stsd", be32(0) ++ be32(1) ++ sampleEntry(codec, w, h))
    val stbl = box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
    val vmhd = box("vmhd", be32(1) ++ be16(0) ++
      be16(0) ++ be16(0) ++ be16(0))
    val dinf = box("dinf", box("dref", be32(0) ++ be32(1) ++
      box("url ", be32(1))))
    val minf = box("minf", vmhd ++ dinf ++ stbl)
    val mdia = box("mdia", mdhd(duration) ++ hdlr ++ minf)
    val trak = box("trak", tkhd(duration, w, h) ++ mdia)
    val moov = box("moov", mvhd(duration) ++ trak)
    ftyp ++ mdat ++ moov
  }

  /** One-shot generator: writes the fixture parquet (single file —
   *  the corpus is KBs and commits as one object). Idempotent by
   *  construction: every byte is a function of the constants above. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(Path)
    val spark = graft.GraftSession("graft-mp4-remux-fixture")
    import spark.implicits._
    (0 until Total).map(i => (IdBase + i, mp4Bytes(i)))
      .toDF("clip_id", "video")
      .coalesce(1).write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
