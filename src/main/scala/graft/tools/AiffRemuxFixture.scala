package graft.tools

/**
 * Deterministic committed AIFF corpus — the THIRD audio container
 * joining [[AudioDupFixture]] (WAV) and [[AudioRemuxFixture]]
 * (WAV + Sun AU) in `mm_audio_neardup`'s mixed union, closing the
 * gap the r19 verdict called out (AIFF previously quarantined for
 * routing): Apple's public EA-IFF-85 layout is big-endian 16-bit PCM
 * like AU but chunked like RIFF, with the sample rate carried as an
 * 80-bit IEEE-754 EXTENDED float — the one genuinely new parsing
 * surface ([[graft.ops.MultimodalOps.aiffPcm16be]]).
 *
 * Every clip's SAMPLES are [[AudioRemuxFixture]]'s base contents
 * verbatim, so each AIFF here MUST pair with BOTH its WAV sibling
 * (AudioRemuxFixture.IdBase + i) and its AU sibling (+ M + i) at
 * hamming 0 — the two-container dedup proof becomes three-container
 * with zero new sample arithmetic and the SAME raw-definition oracle
 * (lossless PCM in all three containers).
 *
 * Clip id layout (disjoint from AudioDupFixture's 0..21 and
 * AudioRemuxFixture's 200..212):
 *   - IdBase + i   (i < M)  AIFF re-master of base content i;
 *   - IdBase + M            8-BIT DECOY: the same layout with COMM
 *     sampleSize = 8 — a legal AIFF the 16-bit PCM scope does not
 *     cover, so it must QUARANTINE for routing (the non-PCM16 rule
 *     that already governs μ-law AU), never pair, never enter a
 *     histogram.
 */
object AiffRemuxFixture {
  /** Base contents — PINNED to [[AudioRemuxFixture.M]]. */
  val M: Int = AudioRemuxFixture.M
  /** First clip id — disjoint from both committed audio corpora. */
  val IdBase = 300L

  val Path: String = sys.env.getOrElse("GRAFT_AIFFREMUX_FIXTURE",
    "/root/repo/data/aiffremux_fixture.parquet")

  /** Total clips committed (M re-masters + the 8-bit decoy). */
  val Total: Int = M + 1

  /** (clip_id, fp) of every DECODABLE committed clip —
   *  [[AudioRemuxFixture]]'s raw sample definition re-keyed to this
   *  corpus's ids (the decoy contributes none: it quarantines). */
  def expectedFingerprints: Seq[(Long, Long)] =
    (0 until M).map { i =>
      (IdBase + i, AudioDupFixture.refAudioFp64(
        AudioRemuxFixture.sample(i, _), AudioRemuxFixture.frames(i)))
    }

  private def be32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
    ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  /** 80-bit IEEE-754 extended encoding of an integral sample rate
   *  (sign 0, biased exponent, explicit-top-bit mantissa). */
  private def ext80(rate: Int): Array[Byte] = {
    val h = 63 - java.lang.Long.numberOfLeadingZeros(rate.toLong)
    val mant = rate.toLong << (63 - h)
    be16(16383 + h) ++ be32(mant >>> 32) ++ be32(mant & 0xFFFFFFFFL)
  }

  /** The committed payload of clip (IdBase + id): a real big-endian
   *  FORM/AIFF with COMM (80-bit extended rate) + SSND chunks. */
  def aiffBytes(id: Int): Array[Byte] = {
    val base = if (id < M) id else 0
    val bits = if (id < M) 16 else 8 // the decoy lies only here
    val n = AudioRemuxFixture.frames(base)
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val s = AudioRemuxFixture.sample(base, t)
      pcm(2 * t) = ((s >> 8) & 0xFF).toByte // big-endian frames
      pcm(2 * t + 1) = (s & 0xFF).toByte
      t += 1
    }
    val comm = "COMM".getBytes("US-ASCII") ++ be32(18L) ++
      be16(1) ++ be32(n.toLong) ++ be16(bits) ++
      ext80(AudioRemuxFixture.Rate)
    val ssnd = "SSND".getBytes("US-ASCII") ++ be32(8L + pcm.length) ++
      be32(0L) ++ be32(0L) ++ pcm
    val body = "AIFF".getBytes("US-ASCII") ++ comm ++ ssnd
    "FORM".getBytes("US-ASCII") ++ be32(body.length.toLong) ++ body
  }

  /** One-shot generator: writes the fixture parquet (single file —
   *  the corpus is KBs and commits as one object). Idempotent by
   *  construction: every byte is a function of the constants above. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(Path)
    val spark = graft.GraftSession("graft-aiff-remux-fixture")
    import spark.implicits._
    (0 until Total).map(i => (IdBase + i, aiffBytes(i)))
      .toDF("clip_id", "audio")
      .coalesce(1).write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
