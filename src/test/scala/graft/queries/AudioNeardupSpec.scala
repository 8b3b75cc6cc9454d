package graft.queries

import graft.SparkSpec
import graft.ops.MultimodalOps
import graft.tools.AudioDupFixture
import org.apache.spark.sql.functions._

/** mm_audio_fingerprint / mm_audio_neardup end to end: the decoded
  * fingerprints against the fixture's INDEPENDENT raw-sample
  * reference, the pair verdicts against brute force (variants pair;
  * reversed decoys must not), the scale-invariance contract, and the
  * quarantine rules. */
class AudioNeardupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = spark.read.parquet(AudioDupFixture.Path)

  test("decoded fingerprints == the fixture's refAudioFp64 rows " +
      "(proves WAV decode AND the envelope-DCT definition against the " +
      "independent reference, every committed clip)") {
    val got = MultimodalOps.audioFingerprintPartitioned(
        corpus, "clip_id", "wav")
      .collect().map(r => (r.id, r.fp)).toSet
    val want = AudioDupFixture.expectedFingerprints.toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("pair verdicts == brute force: exactly the 10 (base, variant) " +
      "pairs qualify — amplitude scaling + dither stays within radius, " +
      "REVERSED decoys (same energy multiset, wrong order) do not") {
    val got = PipelineQueries.mmAudioNeardupOf(corpus, bytesCol = "wav")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val want = (0 until AudioDupFixture.N)
      .map(i => (i.toLong, (i + AudioDupFixture.N).toLong)).toSet
    assert(got == want, got)
    // non-vacuity: the decoys sit FAR outside radius, not just past it
    val fp = AudioDupFixture.expectedFingerprints.toMap
    (0 until AudioDupFixture.RevN).foreach { j =>
      val d = java.lang.Long.bitCount(
        fp(j.toLong) ^ fp((2 * AudioDupFixture.N + j).toLong))
      assert(d > 2 * PipelineQueries.AudioNeardupMaxHamming,
        s"reversed decoy $j drifted to distance $d")
    }
  }

  test("pure amplitude scaling (no dither) is EXACTLY invariant: " +
      "every energy, coefficient, and the median scale together") {
    val n = AudioDupFixture.frames(0)
    val base = AudioDupFixture.refAudioFp64(AudioDupFixture.sample(0, _), n)
    val scaled = AudioDupFixture.refAudioFp64(
      t => (AudioDupFixture.sample(0, t) * 3) / 4, n)
    // 3/4 of the alternating carrier scales every |sample| uniformly
    // (amp is even-ish but integer division is sign-symmetric on the
    // +/- pair), so the hash must not move more than the rounding
    assert(java.lang.Long.bitCount(base ^ scaled) <= 1,
      "scale invariance broke")
  }

  test("audioGateStream: gate decisions == the batch mm_audio_neardup " +
      "verdicts — variants land neardup on their base (the brute-force " +
      "argmin), reversed decoys admit, corrupt bytes quarantine; empty " +
      "corpus and the cap refuse loudly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamOps
    implicit val sqlCtx = spark.sqlContext
    val N = AudioDupFixture.N
    // corpus = the BASE clips only, so a variant's neardup verdict is
    // exactly its batch pair (base i) — the mm_audio_neardup agreement
    val bases = corpus.filter(col("clip_id") < N)
    val in = MemoryStream[(Long, Array[Byte])]
    val gated = StreamOps.audioGateStream(
      in.toDF().toDF("clip_id", "wav"), bases)
    val q = StreamOps.toMemory(
      gated.select("clip_id", "decision", "matched_id", "hamming"),
      "audio_gate_test", OutputMode.Append,
      tempDir("graft-ckpt"))
    try {
      in.addData(
        (0 until N).map(i =>
          (3000L + i, AudioDupFixture.wavBytes(N + i))) ++
        (0 until AudioDupFixture.RevN).map(j =>
          (4000L + j, AudioDupFixture.wavBytes(2 * N + j))) :+
        ((5000L, Array.tabulate[Byte](32)(i => (i * 31).toByte))))
      q.processAllAvailable()
      val got = spark.table("audio_gate_test").collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3))))))
        .toMap
      val fp = AudioDupFixture.expectedFingerprints.toMap
      (0 until N).foreach { i =>
        val d = java.lang.Long.bitCount(fp(i.toLong) ^ fp((N + i).toLong))
        assert(got(3000L + i) == (("neardup", Some((i.toLong, d.toLong)))),
          s"variant $i: ${got(3000L + i)} want base $i at $d")
      }
      (0 until AudioDupFixture.RevN).foreach { j =>
        assert(got(4000L + j) == (("admit", None)), got(4000L + j))
      }
      assert(got(5000L) == (("quarantine", None)), got(5000L))
    } finally q.stop()
    val e1 = intercept[IllegalArgumentException] {
      StreamOps.audioGateStream(
        in.toDF().toDF("clip_id", "wav"), bases, driverCap = 2)
    }
    assert(e1.getMessage.contains("mmAudioNeardup"), e1.getMessage)
    val junk = Seq((900L, Array[Byte](1, 2))).toDF("clip_id", "wav")
    val e2 = intercept[IllegalArgumentException] {
      StreamOps.audioGateStream(in.toDF().toDF("clip_id", "wav"), junk)
    }
    assert(e2.getMessage.contains("EMPTY"), e2.getMessage)
  }

  /** Hand-rolled RIFF/WAVE bytes with an arbitrary fmt body — the
    * probe for wavPcm16le's header contract. */
  private def rawWav(fmtBody: Array[Byte], pcm: Array[Byte],
      extraChunks: Array[Byte] = Array.empty): Array[Byte] = {
    def le32(v: Long) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def chunk(cc: String, body: Array[Byte]) =
      cc.getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    val payload = "WAVE".getBytes("US-ASCII") ++
      chunk("fmt ", fmtBody) ++ extraChunks ++ chunk("data", pcm)
    "RIFF".getBytes("US-ASCII") ++ le32(payload.length.toLong) ++ payload
  }

  private def pcmFmt(tag: Int, ch: Int, rate: Int, bits: Int,
      ext: Array[Byte] = Array.empty): Array[Byte] = {
    def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    le16(tag) ++ le16(ch) ++ le32(rate) ++ le32(rate * ch * bits / 8) ++
      le16(ch * bits / 8) ++ le16(bits) ++ ext
  }

  test("wavPcm16le header contract: WAVE_FORMAT_EXTENSIBLE with the " +
      "PCM SubFormat GUID is ACCEPTED (the JDK extensible reader's " +
      "class); a duplicate fmt chunk cannot overwrite the first; " +
      "float/extensible-non-PCM quarantine") {
    val pcm = Array.tabulate[Byte](2000 * 2) { i =>
      if (i % 2 == 0) ((i / 2) % 100).toByte else 0.toByte }
    // extensible: cbSize 22 + validBits + channel mask + PCM GUID
    val guid = Array[Byte](0x01, 0, 0, 0, 0, 0, 0x10, 0,
      0x80.toByte, 0, 0, 0xAA.toByte, 0, 0x38, 0x9B.toByte, 0x71)
    def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    val extBody = le16(22) ++ le16(16) ++
      Array[Byte](1, 0, 0, 0) ++ guid
    val okExt = rawWav(pcmFmt(0xFFFE, 1, 8000, 16, extBody), pcm)
    val plain = rawWav(pcmFmt(1, 1, 8000, 16), pcm)
    val extFp = MultimodalOps.audioClipFingerprint(1L, okExt)
    val plainFp = MultimodalOps.audioClipFingerprint(2L, plain)
    assert(extFp.sample_rate == 8000 && plainFp.sample_rate == 8000)
    assert(extFp.fp == plainFp.fp,
      "extensible and plain headers carry the SAME pcm -> same hash")
    // duplicate fmt: a second garbage fmt must not overwrite the first
    def chunk(cc: String, body: Array[Byte]) = {
      def le32(v: Long) = Array((v & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 24) & 0xFF).toByte)
      cc.getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body
    }
    val dupFmt = rawWav(pcmFmt(1, 1, 8000, 16), pcm,
      extraChunks = chunk("fmt ", pcmFmt(85 /* mp3 */, 0, 0, 0)))
    assert(MultimodalOps.audioClipFingerprint(3L, dupFmt).fp == plainFp.fp,
      "FIRST fmt must win over a later duplicate")
    // float (tag 3) and extensible with a non-PCM GUID quarantine
    val floatWav = rawWav(pcmFmt(3, 1, 8000, 16), pcm)
    // GUID sits past cbSize(2) + validBits(2) + channelMask(4)
    val badGuid = extBody.clone(); badGuid(8) = 0x03
    val extFloat = rawWav(pcmFmt(0xFFFE, 1, 8000, 16, badGuid), pcm)
    assert(MultimodalOps.audioClipFingerprint(4L, floatWav).sample_rate == -1)
    assert(MultimodalOps.audioClipFingerprint(5L, extFloat).sample_rate == -1)
    // an UNDERSIZED first fmt must quarantine — not let a later valid
    // duplicate (which a stream reader would never reach) decode it
    val shortFmt = rawWav(pcmFmt(1, 1, 8000, 16).take(4), pcm,
      extraChunks = chunk("fmt ", pcmFmt(1, 1, 8000, 16)))
    assert(MultimodalOps.audioClipFingerprint(6L, shortFmt).sample_rate == -1)
  }

  test("window bounds stay exact past the 32-bit product line: a " +
      "legal ~35M-sample mono clip fingerprints identically to the " +
      "independent reference (w*n would wrap Int at window 62)") {
    val n = 35000000 // > Int.MaxValue / 63
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val s = ((t % 100) - 50) * 100
      pcm(2 * t) = (s & 0xFF).toByte
      pcm(2 * t + 1) = ((s >> 8) & 0xFF).toByte
      t += 1
    }
    val fp = MultimodalOps.audioClipFingerprint(7L,
      rawWav(pcmFmt(1, 1, 8000, 16), pcm))
    assert(fp.sample_rate == 8000 && fp.n_samples == n.toLong)
    val want = AudioDupFixture.refAudioFp64(
      tt => ((tt % 100) - 50) * 100, n)
    assert(fp.fp == want, "big-clip fingerprint diverged from the reference")
  }

  test("quarantine: corrupt bytes and too-short clips emit the " +
      "sentinel and never enter the dedup join") {
    val garbage = Array.tabulate[Byte](32)(i => (i * 31).toByte)
    val mixed = Seq(
      (100L, AudioDupFixture.wavBytes(0)),
      (110L, AudioDupFixture.wavBytes(AudioDupFixture.N)),
      (99L, garbage))
      .toDF("clip_id", "wav")
    val rows = MultimodalOps.audioFingerprintPartitioned(
      mixed, "clip_id", "wav").collect()
    assert(rows.count(_.id == 99L) == 1 &&
      rows.filter(_.id == 99L).forall(_.sample_rate == -1))
    val got = PipelineQueries.mmAudioNeardupOf(mixed, bytesCol = "wav")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 110L)), got)
  }
}
