package graft.tools

/**
 * Deterministic committed corpus of REAL encoded WAV clips with
 * built-in NEAR-DUPLICATE ground truth — the audio rung of the
 * near-dup fixture family ([[PngFixture]] images,
 * [[VideoDupFixture]] clips): [[WavFixture]]'s modular sample sweep
 * is deliberately noise-like (it exercises the amplitude-histogram
 * decode gate), the wrong regime for a robust fingerprint, so this
 * corpus carries SMOOTH ENERGY ENVELOPES — a ±1 alternating carrier
 * under a piecewise-linear per-window amplitude shape — the signal
 * class an envelope-DCT fingerprint (the Haitsma–Kalker band-energy
 * idea collapsed to one band) is designed for.
 *
 * Clip id layout (every byte a pure function of the id):
 *   - 0 .. N-1       base clips: 64 × [[winLen]] mono 16-bit PCM
 *     frames, envelope amp(i, w) varying per clip AND per window;
 *   - N .. 2N-1      near-dup variants: base (id − N) amplitude-scaled
 *     by 7/8 with a ±2 sample dither — scaling commutes with the
 *     energy DCT (bits move only where the dither tips a
 *     near-median coefficient): MUST pair with its base;
 *   - 2N .. 2N+1     REVERSED decoys: base (id − 2N) played backwards
 *     — the SAME energy multiset in reverse order negates every odd
 *     DCT coefficient, so order sensitivity is the tested contract:
 *     must NOT pair.
 */
object AudioDupFixture {
  /** Base clips (total corpus = 2N + RevN = 22 clips). */
  val N = 10
  /** Reversed decoys (bases 0 .. RevN-1). */
  val RevN = 2

  val Path: String = sys.env.getOrElse("GRAFT_AUDIODUP_FIXTURE",
    "/root/repo/data/audiodup_fixture.parquet")

  /** Total clips committed. */
  val Total: Int = 2 * N + RevN

  /** Fingerprint window count (and DCT length). */
  val Windows = 64

  /** Samples per fingerprint window of base clip i (frame count =
   *  [[Windows]] × winLen — divisible by construction, so the
   *  operator's floor-boundary windows coincide with the
   *  definition's). */
  def winLen(i: Int): Int = 25 + i

  /** Frames in base clip i. */
  def frames(i: Int): Int = Windows * winLen(i)

  /** Per-window carrier amplitude of BASE clip i — piecewise-linear
   *  in the window index (one slope + one V-bend, both
   *  clip-dependent), bounded to [1290, 18710] so the 7/8-scaled,
   *  ±2-dithered variant never clips 16-bit. */
  def amp(i: Int, w: Int): Int = {
    val a = (i % 5 - 2) * 40
    val b = (60 + (i % 4) * 30) * (if (i % 2 == 0) 1 else -1)
    10000 + a * (w - 32) + b * (math.abs(w - (10 + (i * 5) % 44)) - 22)
  }

  /** 16-bit PCM sample of clip `id` at frame t (mono), for ANY id in
   *  the layout — the single definition [[wavBytes]] and
   *  [[expectedFingerprints]] share. */
  def sample(id: Int, t: Int): Int =
    if (id < N) { // base: alternating carrier under the envelope
      val s = if (t % 2 == 0) 1 else -1
      s * amp(id, t / winLen(id))
    } else if (id < 2 * N) { // scaled + dithered variant
      val b = id - N
      (sample(b, t) * 7) / 8 + (t % 5) - 2
    } else // reversed decoy
      sample(id - 2 * N, frames(id - 2 * N) - 1 - t)

  /** Frames in clip `id` (variants and decoys mirror their base). */
  def framesOf(id: Int): Int =
    if (id < N) frames(id)
    else if (id < 2 * N) frames(id - N)
    else frames(id - 2 * N)

  /** INDEPENDENT reference fingerprint — the audio analogue of
   *  [[PngFixture.refPhash64]], plain Scala shared by no operator
   *  code: 64 equal-window energies (Σ s², exact longs, floor
   *  boundaries k·n/64), unnormalized 1-D DCT-II via `StrictMath`
   *  cosines, every coefficient thresholded against the median
   *  (middle pair averaged). */
  private[graft] def refAudioFp64(samples: Int => Int, n: Int): Long = {
    val W = Windows
    val e = new Array[Double](W)
    var w = 0
    while (w < W) {
      var acc = 0L
      // LONG window bounds (the operator's rule): w * n wraps Int
      // past ~34M samples; committed clips are ~2k samples, so the
      // fixture hashes are unchanged — this keeps the REFERENCE
      // definition exact for big-clip probes too
      var t = (w.toLong * n / W).toInt
      val end = ((w + 1).toLong * n / W).toInt
      while (t < end) {
        val s = samples(t).toLong
        acc += s * s
        t += 1
      }
      e(w) = acc.toDouble
      w += 1
    }
    val f = new Array[Double](W)
    var u = 0
    while (u < W) {
      var s = 0.0
      var x = 0
      while (x < W) {
        s += e(x) * StrictMath.cos(StrictMath.PI * (2 * x + 1) * u / (2.0 * W))
        x += 1
      }
      f(u) = s
      u += 1
    }
    val sorted = f.clone()
    java.util.Arrays.sort(sorted)
    val med = (sorted(W / 2 - 1) + sorted(W / 2)) / 2.0
    var bits = 0L
    var k = 0
    while (k < W) { if (f(k) > med) bits |= (1L << k); k += 1 }
    bits
  }

  /** (clip_id, fp) of every committed clip from the raw sample
   *  definition — the mm_audio_neardup oracle's VALUES rows and the
   *  spec's brute-force ground truth. */
  def expectedFingerprints: Seq[(Long, Long)] =
    (0 until Total).map { id =>
      (id.toLong, refAudioFp64(sample(id, _), framesOf(id)))
    }

  /** A real RIFF/WAVE (16-bit signed little-endian PCM, mono 8 kHz)
   *  encoding of clip id's samples — the [[WavFixture.wavBytes]]
   *  construction. */
  def wavBytes(id: Int): Array[Byte] = {
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
      8000f, 16, 1, 2, 8000f, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), format, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** One-shot generator: writes the fixture parquet (single file —
   *  the corpus is KBs and commits as one object). Idempotent by
   *  construction: every byte is a function of the constants above. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(Path)
    val spark = graft.GraftSession("graft-audio-dup-fixture")
    import spark.implicits._
    (0 until Total).map(i => (i.toLong, wavBytes(i)))
      .toDF("clip_id", "wav")
      .coalesce(1).write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
