package graft.queries

import graft.SparkSpec
import graft.ops.MultimodalOps
import graft.tools.{AudioDupFixture, AudioRemuxFixture}
import org.apache.spark.sql.functions._

/** Container-general audio near-dup: the mixed WAV + Sun-AU corpus
  * ([[AudioRemuxFixture]]) end to end — a clip and its re-master in
  * the OTHER container MUST pair at hamming 0 (lossless PCM both
  * ways), the AU big-endian decode must land on the exact
  * raw-definition fingerprints, and the registered mixed-union
  * queries must match brute force over the independent refAudioFp64
  * ground truth. */
class AudioRemuxSpec extends SparkSpec {
  import spark.implicits._

  private val M = AudioRemuxFixture.M
  private val B = AudioRemuxFixture.IdBase
  private lazy val remux = spark.read.parquet(AudioRemuxFixture.Path)

  test("decoded fingerprints of EVERY mixed-corpus clip == the " +
      "fixture's refAudioFp64 rows — proves the magic-sniffing " +
      "dispatch AND the big-endian AU sample decode (a WAV and its AU " +
      "re-master fingerprint identically)") {
    val got = MultimodalOps.audioFingerprintPartitioned(
        remux, "clip_id", "audio")
      .collect().map(r => (r.id, r.fp)).toSet
    val want = AudioRemuxFixture.expectedFingerprints.toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // sample rates decode from the AU header too
    val rates = MultimodalOps.audioFingerprintPartitioned(
        remux, "clip_id", "audio")
      .collect().map(_.sample_rate).toSet
    assert(rates == Set(AudioRemuxFixture.Rate))
  }

  test("union ground truth: the ONLY qualifying pairs across all " +
      "THREE corpora are the 10 WAV (base, variant) pairs and each " +
      "content's (WAV, AU), (WAV, AIFF), (AU, AIFF) re-master " +
      "triangle at hamming 0; the reversed AU decoy sits far outside " +
      "the radius") {
    val B3 = graft.tools.AiffRemuxFixture.IdBase
    val fp = (AudioDupFixture.expectedFingerprints ++
      AudioRemuxFixture.expectedFingerprints ++
      graft.tools.AiffRemuxFixture.expectedFingerprints).toMap
    val r = PipelineQueries.AudioNeardupMaxHamming
    val ids = fp.keys.toSeq.sorted
    val brute = (for {
      i <- ids; j <- ids if i < j
      if java.lang.Long.bitCount(fp(i) ^ fp(j)) <= r
    } yield (i, j)).toSet
    val want = (0 until AudioDupFixture.N)
      .map(i => (i.toLong, (i + AudioDupFixture.N).toLong)).toSet ++
      (0 until M).flatMap(i => Seq((B + i, B + M + i),
        (B + i, B3 + i), (B + M + i, B3 + i))).toSet
    assert(brute == want,
      s"unexpected=${brute -- want} missing=${want -- brute}")
    (0 until M).foreach { i =>
      assert(fp(B + i) == fp(B + M + i), s"re-master $i drifted")
      assert(fp(B + i) == fp(B3 + i), s"AIFF re-master $i drifted")
    }
    val dRev = java.lang.Long.bitCount(fp(B) ^ fp(B + 2 * M))
    assert(dRev > 2 * r, s"reversed AU decoy drifted to distance $dRev")
  }

  test("registered mm_audio_neardup (mixed union) == brute force, " +
      "cross-container triangles at hamming 0; mm_audio_fingerprint " +
      "covers every clip of all three corpora incl. the 8-bit AIFF " +
      "decoy's quarantine sentinel") {
    val B3 = graft.tools.AiffRemuxFixture.IdBase
    val got = PipelineQueries.mmAudioNeardup(spark, "unused")
      .select("id1", "id2", "hamming")
      .as[(Long, Long, Long)].collect()
    val fp = (AudioDupFixture.expectedFingerprints ++
      AudioRemuxFixture.expectedFingerprints ++
      graft.tools.AiffRemuxFixture.expectedFingerprints).toMap
    val r = PipelineQueries.AudioNeardupMaxHamming
    val ids = fp.keys.toSeq.sorted
    val brute = (for {
      i <- ids; j <- ids if i < j
      if java.lang.Long.bitCount(fp(i) ^ fp(j)) <= r
    } yield (i, j)).toSet
    assert(got.map(p => (p._1, p._2)).toSet == brute)
    (0 until M).foreach { i =>
      Seq((B + i, B + M + i), (B + i, B3 + i), (B + M + i, B3 + i))
        .foreach { case (a, bb) =>
          assert(got.exists(p => p._1 == a && p._2 == bb && p._3 == 0L),
            s"cross-container pair ($a, $bb) missing or nonzero")
        }
    }
    val fps = PipelineQueries.mmAudioFingerprint(spark, "unused")
      .select("clip_id", "sample_rate").as[(Long, Int)].collect().toMap
    assert(fps.size == AudioDupFixture.Total + AudioRemuxFixture.Total +
      graft.tools.AiffRemuxFixture.Total)
    assert(fps(B3 + M) == -1, "the 8-bit AIFF decoy must quarantine")
  }

  test("AU strictness: trailing bytes past the data segment quarantine " +
      "(the concat/append lie — the wavPcm16le rule on the second " +
      "container)") {
    val au = AudioRemuxFixture.audioBytes(M) // a valid AU re-master
    assert(MultimodalOps.audioClipFingerprint(1L, au).sample_rate ==
      AudioRemuxFixture.Rate)
    val concat = au ++ au
    assert(MultimodalOps.audioClipFingerprint(2L, concat).sample_rate == -1,
      "two concatenated AU files must not silently decode as the first")
    val junk = au ++ Array[Byte](7, 7, 7)
    assert(MultimodalOps.audioClipFingerprint(3L, junk).sample_rate == -1)
  }

  test("the decode-stats ops are container-general too: an AU clip's " +
      "histogram/features equal its WAV sibling's (identical samples, " +
      "two containers, two endiannesses)") {
    val pair = Seq(
      (0L, AudioRemuxFixture.audioBytes(0)),       // WAV base 0
      (1L, AudioRemuxFixture.audioBytes(M)))       // AU re-master of 0
      .toDF("clip_id", "audio")
    val stats = MultimodalOps.decodeWavPartitioned(
        pair, "clip_id", "audio")
      .collect().map(r => r.id -> ((r.sample_rate, r.channels,
        r.n_samples, r.amp_hist))).toMap
    assert(stats(0L) == stats(1L), s"${stats(0L)} != ${stats(1L)}")
    assert(stats(0L)._1 == AudioRemuxFixture.Rate)
    val feats = MultimodalOps.audioFrameFeaturesPartitioned(
        pair, "clip_id", "audio", win = 256, silenceThr = 100)
      .collect().map(r => r.id -> ((r.n_windows, r.zero_crossings,
        r.energy, r.peak_abs, r.silent_windows))).toMap
    assert(feats(0L) == feats(1L), s"${feats(0L)} != ${feats(1L)}")
  }

  test("live audio gate is container-general too: an AU re-master " +
      "probe against a WAV-only corpus lands neardup on its WAV " +
      "sibling at hamming 0") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamOps
    implicit val sqlCtx = spark.sqlContext
    val wavCorpus = remux.filter(col("clip_id") < B + M)
    val in = MemoryStream[(Long, Array[Byte])]
    val gated = StreamOps.audioGateStream(
      in.toDF().toDF("clip_id", "audio"), wavCorpus,
      bytesCol = "audio", corpusBytesCol = "audio")
    val q = StreamOps.toMemory(
      gated.select("clip_id", "decision", "matched_id", "hamming"),
      "audio_gate_remux_test", OutputMode.Append,
      tempDir("graft-ckpt"))
    try {
      in.addData((0 until M).map(i =>
        (6000L + i, AudioRemuxFixture.audioBytes(M + i))).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("audio_gate_remux_test").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
          r.getLong(3)))).toMap
      (0 until M).foreach { i =>
        assert(got(6000L + i) == (("neardup", B + i, 0L)), got(6000L + i))
      }
    } finally q.stop()
  }
}
