package graft.tools

/**
 * Deterministic committed corpus of REAL encoded WAV clips — the audio
 * sibling of [[PngFixture]], gating
 * `MultimodalOps.decodeWavPartitioned` end-to-end with the same
 * sign-table device: every clip is a pure function of its id
 * ([[fmt]] picks sample rate / channels / frame count, [[sample]] the
 * 16-bit PCM samples), the generator `main` encodes them as genuine
 * RIFF/WAVE files (`javax.sound.sampled` — JDK-public, lossless PCM)
 * into a parquet committed at [[Path]], and [[expectedRows]] computes
 * the SAME statistics the decode query extracts (format metadata +
 * 16-bin amplitude histogram, `(s + 32768) >> 12` binning) from the
 * RAW SAMPLE DEFINITION — no WAV container, no AudioSystem. The
 * DuckDB oracle embeds those rows as a VALUES literal, so the gated
 * query passes iff the committed bytes genuinely round-trip the
 * encoder — a real decode proof, not an echo of the decoder's output.
 *
 * Clips span 3 sample rates × mono/stereo × 50–250 frames so the
 * corpus stays a few KB committed while the sample sweep hits all 16
 * amplitude bins.
 */
object WavFixture {
  val N = 40
  val Path: String = sys.env.getOrElse("GRAFT_WAV_FIXTURE",
    "/root/repo/data/wav_fixture.parquet")

  /** Clips at or past this id open with [[SilentLead]] frames of exact
   *  digital silence — the non-vacuous ground truth for the silence
   *  detector in `mm_audio_features` (every sweep-only clip maxes all
   *  amplitude bins, so WITHOUT these the silent-window count would
   *  read zero corpus-wide — the vacuous-telemetry class). */
  val SilentFrom = 32
  val SilentLead = 50

  /** (sampleRate, channels, frames) for clip i. */
  def fmt(i: Int): (Int, Int, Int) =
    (8000 + (i % 3) * 4000, 1 + i % 2, 50 + (i * 13) % 200)

  /** 16-bit signed PCM sample for clip i, frame t, channel ch —
   *  arithmetic sweep covering the full [-32768, 32767] range; clips
   *  ≥ [[SilentFrom]] lead with [[SilentLead]] frames of exact
   *  silence on every channel. */
  def sample(i: Int, t: Int, ch: Int): Int =
    if (i >= SilentFrom && t < SilentLead) 0
    else ((i * 2731 + t * 389 + ch * 7919) * 131) % 65536 - 32768

  /** Frame window length (samples) and absolute-amplitude silence
   *  threshold for the `mm_audio_features` windowed statistics. */
  val FrameWin = 25
  val SilenceThr = 4096

  /** (clip_id, n_windows, zero_crossings, energy, peak_abs,
   *  silent_windows) over CHANNEL 0 from the raw sample definition —
   *  the `mm_audio_features` oracle side; must never touch WAV bytes
   *  or AudioSystem. Zero crossings count sign flips with zero
   *  treated as non-negative; a window is silent when every |s| in it
   *  stays below [[SilenceThr]]; the ragged tail past the last full
   *  window is excluded from window stats but included in the
   *  whole-clip crossings/energy/peak. */
  def expectedFeatureRows: Seq[(Long, Long, Long, Long, Long, Long)] =
    (0 until N).map { i =>
      val (_, _, frames) = fmt(i)
      val s = (0 until frames).map(t => sample(i, t, 0))
      val nWin = frames / FrameWin
      val zc = (1 until frames).count(t => (s(t - 1) < 0) != (s(t) < 0))
      val energy = s.map(x => x.toLong * x).sum
      val peak = s.map(x => math.abs(x.toLong)).max
      val silent = (0 until nWin).count(w =>
        (0 until FrameWin).forall(j =>
          math.abs(s(w * FrameWin + j)) < SilenceThr))
      (i.toLong, nWin.toLong, zc.toLong, energy, peak, silent.toLong)
    }

  /** (clip_id, sample_rate, channels, n_samples, hist_csv) from the
   *  raw sample definition — the oracle side; must never touch WAV
   *  bytes or AudioSystem. */
  def expectedRows: Seq[(Long, Int, Int, Long, String)] = (0 until N).map { i =>
    val (rate, ch, frames) = fmt(i)
    val hist = new Array[Long](16)
    var t = 0
    while (t < frames) {
      var c = 0
      while (c < ch) {
        hist((sample(i, t, c) + 32768) >> 12) += 1L
        c += 1
      }
      t += 1
    }
    (i.toLong, rate, ch, frames.toLong, hist.mkString(","))
  }

  /** A real RIFF/WAVE (16-bit signed little-endian PCM) encoding of
   *  clip i's samples. */
  def wavBytes(i: Int): Array[Byte] = {
    val (rate, ch, frames) = fmt(i)
    val pcm = new Array[Byte](frames * ch * 2)
    var t = 0
    var p = 0
    while (t < frames) {
      var c = 0
      while (c < ch) {
        val s = sample(i, t, c)
        pcm(p) = (s & 0xFF).toByte // little-endian
        pcm(p + 1) = ((s >> 8) & 0xFF).toByte
        c += 1
        p += 2
      }
      t += 1
    }
    val format = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      rate.toFloat, 16, ch, 2 * ch, rate.toFloat, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), format, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** One-shot generator: writes the fixture parquet (single file — the
   *  corpus is KBs and commits as one object). Idempotent by
   *  construction: every byte is a function of the constants above. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(Path)
    val spark = graft.GraftSession("graft-wav-fixture")
    import spark.implicits._
    (0 until N).map(i => (i.toLong, wavBytes(i)))
      .toDF("clip_id", "wav")
      .coalesce(1).write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
