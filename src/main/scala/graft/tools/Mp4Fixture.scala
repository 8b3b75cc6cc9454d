package graft.tools

/**
 * Deterministic committed corpus of REAL ISO BMFF (MP4) containers —
 * the video sibling of [[PngFixture]]/[[WavFixture]]. No video CODEC
 * ships with the JDK, so the honest scope is CONTAINER STRUCTURE (the
 * part a curation pipeline needs before routing to a transcode farm):
 * every clip is a pure function of its id ([[meta]] picks brand /
 * timescale / duration / track count / mdat size), [[mp4Bytes]] lays
 * out genuine ftyp + moov(mvhd, trak(tkhd)...) + mdat boxes
 * byte-by-byte per ISO/IEC 14496-12 (public spec), and
 * [[expectedRows]] computes the SAME metadata the probe query
 * extracts from the RAW DEFINITION — no bytes, no parser. The DuckDB
 * oracle embeds those rows as VALUES literals, so the gated query
 * passes iff the committed boxes genuinely round-trip the layout —
 * a real parse proof, not an echo of the parser's output.
 */
object Mp4Fixture {
  val N = 24
  val Path: String = sys.env.getOrElse("GRAFT_MP4_FIXTURE",
    "/root/repo/data/mp4_fixture.parquet")

  private val Brands = Seq("isom", "mp42", "avc1")

  /** (brand, timescale, duration ticks, n_tracks, mdat payload bytes)
   *  for clip i. */
  def meta(i: Int): (String, Int, Long, Int, Int) = (
    Brands(i % 3),
    600 * (1 + i % 3),
    600L * (1 + i % 3) * (2 + i % 5) + (i % 7) * 37L,
    1 + i % 3,
    50 + (i * 11) % 100)

  /** (clip_id, brand, timescale, duration_ms, n_tracks, mdat_bytes)
   *  from the raw definition — the oracle side; must never touch the
   *  encoded bytes or the parser. duration_ms floors (integer ms), the
   *  arithmetic the probe applies. */
  def expectedRows: Seq[(Long, String, Long, Long, Long, Long)] =
    (0 until N).map { i =>
      val (brand, ts, dur, tracks, mdat) = meta(i)
      (i.toLong, brand, ts.toLong, dur * 1000L / ts, tracks.toLong, mdat.toLong)
    }

  // ---- box assembly (ISO/IEC 14496-12 §4.2: u32 size includes header)

  private def be32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
    ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  private def box(tpe: String, payload: Array[Byte]): Array[Byte] =
    be32(payload.length + 8L) ++ tpe.getBytes("US-ASCII") ++ payload

  /** mvhd version 0 (100-byte payload). */
  private def mvhd(timescale: Int, duration: Long): Array[Byte] = box("mvhd",
    be32(0) ++ // version 0 + flags
      be32(0) ++ be32(0) ++ // creation, modification
      be32(timescale.toLong) ++ be32(duration) ++
      be32(0x00010000L) ++ be16(0x0100) ++ be16(0) ++ // rate, volume, reserved
      be32(0) ++ be32(0) ++ // reserved
      // unity matrix
      be32(0x00010000L) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000L) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000L) ++
      Array.fill(24)(0.toByte) ++ // pre_defined
      be32(2)) // next_track_ID

  /** tkhd version 0 (84-byte payload). */
  private def tkhd(trackId: Int, duration: Long, w: Int, h: Int): Array[Byte] =
    box("tkhd",
      be32(7) ++ // version 0, flags: enabled | in movie | in preview
        be32(0) ++ be32(0) ++ be32(trackId.toLong) ++ be32(0) ++
        be32(duration) ++ be32(0) ++ be32(0) ++
        be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++ // layer, group, volume, rsvd
        be32(0x00010000L) ++ be32(0) ++ be32(0) ++
        be32(0) ++ be32(0x00010000L) ++ be32(0) ++
        be32(0) ++ be32(0) ++ be32(0x40000000L) ++
        be32(w.toLong << 16) ++ be32(h.toLong << 16)) // 16.16 fixed

  /** A real minimal MP4 (ftyp + moov + mdat) for clip i. */
  def mp4Bytes(i: Int): Array[Byte] = {
    val (brand, ts, dur, tracks, mdat) = meta(i)
    val ftyp = box("ftyp",
      brand.getBytes("US-ASCII") ++ be32(0x200) ++
        "isom".getBytes("US-ASCII") ++ brand.getBytes("US-ASCII"))
    val traks = (1 to tracks).map(t =>
      box("trak", tkhd(t, dur, 160 + 8 * i, 90 + 6 * i))).reduce(_ ++ _)
    val moov = box("moov", mvhd(ts, dur) ++ traks)
    val mdatBox = box("mdat",
      Array.tabulate[Byte](mdat)(b => ((i * 31 + b * 7) % 256).toByte))
    ftyp ++ moov ++ mdatBox
  }

  /** One-shot generator: writes the fixture parquet (single file — the
   *  corpus is KBs and commits as one object). Idempotent by
   *  construction: every byte is a function of the constants above. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(Path)
    val spark = graft.GraftSession("graft-mp4-fixture")
    import spark.implicits._
    (0 until N).map(i => (i.toLong, mp4Bytes(i)))
      .toDF("clip_id", "mp4")
      .coalesce(1).write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
