package graft.queries

import graft.SparkSpec
import graft.ops.MultimodalOps
import graft.tools.{AiffRemuxFixture, AudioRemuxFixture}
import org.apache.spark.sql.functions._

/** AIFF, the third audio container: the strict big-endian FORM/AIFF
  * walk (COMM with an 80-bit IEEE-754 extended sample rate + SSND)
  * must decode the committed re-masters to the exact raw-definition
  * fingerprints, quarantine the 8-bit decoy (the non-PCM16 routing
  * rule), stay total under an adversarial zoo, and interoperate with
  * the live gate. The registered mixed-union triangles are pinned in
  * [[AudioRemuxSpec]]. */
class AiffRemuxSpec extends SparkSpec {
  import spark.implicits._

  private val M = AiffRemuxFixture.M
  private val B = AiffRemuxFixture.IdBase
  private lazy val remux = spark.read.parquet(AiffRemuxFixture.Path)

  test("decoded fingerprints of EVERY committed AIFF clip == the " +
      "raw-definition refAudioFp64 rows — proves the FORM/AIFF " +
      "sniffing dispatch, the 80-bit extended-float rate decode, and " +
      "the big-endian sample walk; the 8-bit decoy emits the " +
      "quarantine sentinel") {
    val got = MultimodalOps.audioFingerprintPartitioned(
        remux, "clip_id", "audio")
      .collect()
    val byId = got.map(f => f.id -> f).toMap
    AiffRemuxFixture.expectedFingerprints.foreach { case (id, fp) =>
      val f = byId(id)
      assert(f.fp == fp && f.sample_rate == AudioRemuxFixture.Rate &&
        f.n_samples == AudioRemuxFixture.frames((id - B).toInt),
        s"clip $id diverged: $f")
    }
    assert(byId(B + M).sample_rate == -1,
      s"8-bit decoy must quarantine: ${byId(B + M)}")
  }

  test("the decode-stats ops see AIFF too: an AIFF clip's histogram " +
      "and frame features equal its WAV sibling's (identical samples, " +
      "three containers)") {
    val pair = Seq(
      (0L, AudioRemuxFixture.audioBytes(0)), // WAV base 0
      (1L, AiffRemuxFixture.aiffBytes(0)))   // AIFF re-master of 0
      .toDF("clip_id", "audio")
    val stats = MultimodalOps.decodeWavPartitioned(pair, "clip_id", "audio")
      .collect().map(r => r.id -> ((r.sample_rate, r.channels,
        r.n_samples, r.amp_hist))).toMap
    assert(stats(0L) == stats(1L), s"${stats(0L)} != ${stats(1L)}")
    val feats = MultimodalOps.audioFrameFeaturesPartitioned(
        pair, "clip_id", "audio", win = 256, silenceThr = 100)
      .collect().map(r => r.id -> ((r.n_windows, r.zero_crossings,
        r.energy, r.peak_abs, r.silent_windows))).toMap
    assert(feats(0L) == feats(1L), s"${feats(0L)} != ${feats(1L)}")
  }

  test("adversarial zoo: every malformed AIFF variant QUARANTINES " +
      "(total, no task kill) — truncation, trailing junk, a second " +
      "COMM, nonzero blockSize, a negative 80-bit rate, a frame count " +
      "not filling SSND, and garbage with FORM magic") {
    val good = AiffRemuxFixture.aiffBytes(0)
    def indexOf(pat: String): Int = {
      val p = pat.getBytes("US-ASCII")
      (0 to good.length - p.length)
        .find(i => p.indices.forall(j => good(i + j) == p(j))).get
    }
    def patched(f: Array[Byte] => Array[Byte]): Array[Byte] =
      f(good.clone())
    val zoo: Seq[(String, Array[Byte])] = Seq(
      "truncated" -> good.take(good.length / 2),
      "trailing junk" -> (good ++ Array[Byte](1, 2, 3, 4)),
      "garbage with FORM magic" ->
        (good.take(12) ++ Array.tabulate[Byte](32)(i => (i * 29).toByte)),
      "nonzero blockSize" -> patched { b =>
        b(indexOf("SSND") + 15) = 2; b // u32 at body+4, low byte
      },
      "negative 80-bit rate" -> patched { b =>
        b(indexOf("COMM") + 16) = 0xC0.toByte; b // sign bit of ext80
      },
      "frame count not filling SSND" -> patched { b =>
        b(indexOf("COMM") + 13) = 1; b // nFrames low byte bumped
      },
      "empty" -> Array.empty[Byte],
      "null" -> null.asInstanceOf[Array[Byte]])
    zoo.foreach { case (name, bytes) =>
      assert(MultimodalOps.audioClipFingerprint(9L, bytes).sample_rate == -1,
        s"zoo '$name' must quarantine")
    }
    // a SECOND COMM chunk: append one inside the FORM bound
    val comm2 = {
      val commAt = indexOf("COMM")
      val chunk = good.slice(commAt, commAt + 8 + 18)
      val grown = good ++ chunk
      // patch the FORM size to cover the appended chunk
      val newSz = grown.length - 8L
      grown(4) = ((newSz >> 24) & 0xFF).toByte
      grown(5) = ((newSz >> 16) & 0xFF).toByte
      grown(6) = ((newSz >> 8) & 0xFF).toByte
      grown(7) = (newSz & 0xFF).toByte
      grown
    }
    assert(MultimodalOps.audioClipFingerprint(9L, comm2).sample_rate == -1,
      "a second COMM must quarantine, not silently redefine the first")
    // control: the unpatched clip still decodes
    assert(MultimodalOps.audioClipFingerprint(9L, good).sample_rate ==
      AudioRemuxFixture.Rate)
  }

  test("unknown chunks skip legally: a MARK chunk interleaved between " +
      "COMM and SSND (FORM size grown to cover it) leaves the decode " +
      "IDENTICAL — EA-IFF-85 annotations must not quarantine a valid " +
      "clip") {
    val good = AiffRemuxFixture.aiffBytes(0)
    def be32(v: Long) = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      (v & 0xFF).toByte)
    def u32(b: Array[Byte], p: Int): Long =
      ((b(p) & 0xFFL) << 24) | ((b(p + 1) & 0xFFL) << 16) |
        ((b(p + 2) & 0xFFL) << 8) | (b(p + 3) & 0xFFL)
    // walk to the SSND chunk structurally (chunks start at 12)
    var p = 12
    while (new String(good, p, 4, "US-ASCII") != "SSND")
      p += 8 + u32(good, p + 4).toInt + (u32(good, p + 4).toInt & 1)
    val mark = "MARK".getBytes("US-ASCII") ++ be32(2L) ++
      Array[Byte](0, 0) // no markers (u16 count = 0)
    val grown = good.slice(0, 4) ++
      be32(u32(good, 4) + mark.length) ++
      good.slice(8, p) ++ mark ++ good.slice(p, good.length)
    val withMark = MultimodalOps.audioClipFingerprint(1L, grown)
    val plain = MultimodalOps.audioClipFingerprint(1L, good)
    assert(withMark.sample_rate == plain.sample_rate &&
      withMark.n_samples == plain.n_samples &&
      withMark.fp == plain.fp,
      s"MARK chunk changed the decode: $withMark vs $plain")
  }

  test("stereo AIFF: channel-0 extraction (stride 4) — a 2-channel " +
      "clip whose left channel is base 0 and whose right channel is " +
      "junk fingerprints IDENTICALLY to the mono clip (the COMM " +
      "channel count drives the frame stride and the " +
      "frames-fill-SSND check)") {
    val n = AudioRemuxFixture.frames(0)
    def be32(v: Long) = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      (v & 0xFF).toByte)
    def be16(v: Int) = Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    // the committed mono fixture's 80-bit rate field, reused verbatim
    val mono = AiffRemuxFixture.aiffBytes(0)
    val commAt = {
      val p = "COMM".getBytes("US-ASCII")
      (0 to mono.length - 4)
        .find(i => p.indices.forall(j => mono(i + j) == p(j))).get
    }
    val ext80 = mono.slice(commAt + 16, commAt + 26)
    val pcm = new Array[Byte](n * 4) // L = sample, R = junk
    var t = 0
    while (t < n) {
      val l = AudioRemuxFixture.sample(0, t)
      val r = (t * 31 + 7) % 65536 - 32768
      pcm(4 * t) = ((l >> 8) & 0xFF).toByte
      pcm(4 * t + 1) = (l & 0xFF).toByte
      pcm(4 * t + 2) = ((r >> 8) & 0xFF).toByte
      pcm(4 * t + 3) = (r & 0xFF).toByte
      t += 1
    }
    val comm = "COMM".getBytes("US-ASCII") ++ be32(18L) ++
      be16(2) ++ be32(n.toLong) ++ be16(16) ++ ext80
    val ssnd = "SSND".getBytes("US-ASCII") ++ be32(8L + pcm.length) ++
      be32(0L) ++ be32(0L) ++ pcm
    val body = "AIFF".getBytes("US-ASCII") ++ comm ++ ssnd
    val stereo = "FORM".getBytes("US-ASCII") ++
      be32(body.length.toLong) ++ body
    val fpStereo = MultimodalOps.audioClipFingerprint(1L, stereo)
    val fpMono = MultimodalOps.audioClipFingerprint(2L, mono)
    assert(fpStereo.sample_rate == AudioRemuxFixture.Rate &&
      fpStereo.n_samples == fpMono.n_samples &&
      fpStereo.fp == fpMono.fp,
      s"stereo channel-0 diverged: $fpStereo vs $fpMono")
  }

  test("live audio gate is AIFF-general too: an AIFF probe against " +
      "the WAV corpus lands neardup on its WAV sibling at hamming 0, " +
      "and the 8-bit decoy probe quarantines") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamOps
    implicit val sqlCtx = spark.sqlContext
    val wavCorpus = spark.read.parquet(AudioRemuxFixture.Path)
      .filter(col("clip_id") < AudioRemuxFixture.IdBase + M)
    val in = MemoryStream[(Long, Array[Byte])]
    val gated = StreamOps.audioGateStream(
      in.toDF().toDF("clip_id", "audio"), wavCorpus,
      bytesCol = "audio", corpusBytesCol = "audio")
    val q = StreamOps.toMemory(
      gated.select("clip_id", "decision", "matched_id", "hamming"),
      "audio_gate_aiff_test", OutputMode.Append,
      tempDir("graft-ckpt"))
    try {
      in.addData((0 to M).map(i =>
        (7000L + i, AiffRemuxFixture.aiffBytes(i))).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("audio_gate_aiff_test").collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
      (0 until M).foreach { i =>
        assert(got(7000L + i) ==
          (("neardup", AudioRemuxFixture.IdBase + i, 0L)), got(7000L + i))
      }
      assert(got(7000L + M)._1 == "quarantine", got(7000L + M))
    } finally q.stop()
  }
}
