package graft.tools

/**
 * Deterministic committed MIXED-CONTAINER audio corpus — the
 * cross-container ground truth for `mm_audio_neardup`, the sound
 * sibling of [[VideoRemuxFixture]]: the same PCM samples committed
 * once as RIFF/WAVE (little-endian) and once as a Sun AU `.snd`
 * RE-MASTER (big-endian), which MUST pair — the most common real
 * audio duplicate is the same recording re-containerized, and both
 * containers are LOSSLESS 16-bit PCM, so the re-master pair's
 * fingerprints are IDENTICAL (hamming 0) with no engineered
 * tolerance: the oracle stays pure raw-sample arithmetic through the
 * independent [[AudioDupFixture.refAudioFp64]].
 *
 * Clip id layout (ids offset by [[IdBase]] to stay disjoint from
 * [[AudioDupFixture]]'s 0..21 — the two corpora UNION into one
 * mm_audio_neardup input):
 *   - IdBase + i       (i < M)  WAV encoding of base content i;
 *   - IdBase + M + i   (i < M)  AU re-master — identical samples,
 *     big-endian frames: MUST pair with its WAV sibling at 0;
 *   - IdBase + 2M      REVERSED AU decoy of base 0 — same energy
 *     multiset in reverse order negates every odd DCT coefficient:
 *     must NOT pair (the cross-container form of the dup fixture's
 *     reversed decoys).
 *
 * Base envelopes use constants DISJOINT from [[AudioDupFixture]]'s
 * sweep, so the unioned corpus's only qualifying pairs are the dup
 * fixture's own (base, variant) pairs plus these cross-container
 * re-masters — spec-verified from the raw definitions.
 */
object AudioRemuxFixture {
  /** Distinct base contents (total corpus = 2M + 1 clips). */
  val M = 6
  /** First clip id — disjoint from AudioDupFixture's 0..Total-1. */
  val IdBase = 200L

  val Path: String = sys.env.getOrElse("GRAFT_AUDIOREMUX_FIXTURE",
    "/root/repo/data/audioremux_fixture.parquet")

  /** Total clips committed. */
  val Total: Int = 2 * M + 1

  /** Samples per fingerprint window of base i — offset from the dup
   *  fixture's 25..34 band so frame counts differ too. */
  def winLen(i: Int): Int = 40 + 3 * i

  /** Frames in base content i (window-aligned like the sibling). */
  def frames(i: Int): Int = AudioDupFixture.Windows * winLen(i)

  /** Per-window carrier amplitude of base content i — the dup
   *  fixture's piecewise-linear family with a DISJOINT constant
   *  sweep (steeper slopes, different bend anchors), bounded well
   *  inside 16-bit. */
  def amp(i: Int, w: Int): Int = {
    val a = (i % 4 - 1) * 55
    val b = (90 + (i % 3) * 35) * (if (i % 2 == 0) -1 else 1)
    9000 + a * (w - 30) + b * (math.abs(w - (40 - (i * 7) % 36)) - 18)
  }

  /** 16-bit PCM sample of clip `id` at frame t (mono), for ANY id in
   *  the layout — the single definition [[wavBytes]]/[[auBytes]] and
   *  [[expectedFingerprints]] share. */
  def sample(id: Int, t: Int): Int =
    if (id < M) { // base: alternating carrier under the envelope
      val s = if (t % 2 == 0) 1 else -1
      s * amp(id, t / winLen(id))
    } else if (id < 2 * M) // AU re-master: identical samples
      sample(id - M, t)
    else // reversed AU decoy of base 0
      sample(0, frames(0) - 1 - t)

  /** Frames in clip `id`. */
  def framesOf(id: Int): Int =
    if (id < M) frames(id)
    else if (id < 2 * M) frames(id - M)
    else frames(0)

  /** Sample rate of every committed clip. */
  val Rate = 16000

  /** (clip_id, fp) of every committed clip from the raw sample
   *  definition — both containers decode to these exact samples
   *  (lossless PCM), so these rows are the oracle's VALUES literals
   *  and the spec's brute-force ground truth. */
  def expectedFingerprints: Seq[(Long, Long)] =
    (0 until Total).map { id =>
      (IdBase + id,
        AudioDupFixture.refAudioFp64(sample(id, _), framesOf(id)))
    }

  /** Little-endian PCM inside a real RIFF/WAVE (mono 16-bit). */
  private def wavBytes(id: Int): Array[Byte] = {
    val n = framesOf(id)
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val s = sample(id, t)
      pcm(2 * t) = (s & 0xFF).toByte
      pcm(2 * t + 1) = ((s >> 8) & 0xFF).toByte
      t += 1
    }
    val format = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      Rate.toFloat, 16, 1, 2, Rate.toFloat, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), format, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** BIG-endian PCM inside a real Sun AU header (the public `.snd`
   *  layout: six big-endian u32 fields, encoding 3 = 16-bit linear
   *  PCM, then big-endian frames). */
  private def auBytes(id: Int): Array[Byte] = {
    val n = framesOf(id)
    def be32(v: Long) = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      (v & 0xFF).toByte)
    val header = ".snd".getBytes("US-ASCII") ++ be32(24L) ++
      be32(n * 2L) ++ be32(3L) ++ be32(Rate.toLong) ++ be32(1L)
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val s = sample(id, t)
      pcm(2 * t) = ((s >> 8) & 0xFF).toByte
      pcm(2 * t + 1) = (s & 0xFF).toByte
      t += 1
    }
    header ++ pcm
  }

  /** The committed payload of clip (IdBase + id). */
  def audioBytes(id: Int): Array[Byte] =
    if (id < M) wavBytes(id) else auBytes(id)

  /** One-shot generator: writes the fixture parquet (single file —
   *  the corpus is KBs and commits as one object). Idempotent by
   *  construction: every byte is a function of the constants above. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(Path)
    val spark = graft.GraftSession("graft-audio-remux-fixture")
    import spark.implicits._
    (0 until Total).map(i => (IdBase + i, audioBytes(i)))
      .toDF("clip_id", "audio")
      .coalesce(1).write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
