package graft.queries

import graft.SparkSpec
import graft.ops.MultimodalOps
import graft.tools.{Mp4RemuxFixture, VideoRemuxFixture}
import org.apache.spark.sql.functions._

/** MJPEG-in-MP4, the third video container: the strict ISO BMFF
  * sample-table walk must decode the committed re-muxes to the exact
  * raw-definition hashes and stats, quarantine the 'avc1' codec decoy
  * (the transcode-farm routing boundary), stay total under an
  * adversarial byte zoo, and interoperate with the live gate. The
  * registered mixed-union dedup queries are pinned in
  * [[VideoRemuxSpec]] (three-container triangle). */
class Mp4RemuxSpec extends SparkSpec {
  import spark.implicits._

  private val M = Mp4RemuxFixture.M
  private val B = Mp4RemuxFixture.IdBase
  private lazy val remux = spark.read.parquet(Mp4RemuxFixture.Path)

  test("decoded per-frame hashes of EVERY committed MP4 clip == the " +
      "raw-definition refPhash64 rows — proves the ftyp sniffing " +
      "dispatch, the stsc×stco sample expansion (both the one-chunk " +
      "and one-sample-per-chunk layouts), and the shared pixel-exact " +
      "JPEG round-trip; the codec decoy emits ONE sentinel row") {
    val got = MultimodalOps.videoFramePhashesPartitioned(
        remux, "clip_id", "video", brightShift = 0)
      .collect()
    val want = Mp4RemuxFixture.expectedFramePhashes.toSet
    val gotGood = got.filter(_.width != -1).map(r => (r.id, r.frame, r.phash)).toSet
    assert(gotGood == want,
      s"missing=${(want -- gotGood).take(3)} extra=${(gotGood -- want).take(3)}")
    val decoy = got.filter(_.id == B + M)
    assert(decoy.length == 1 && decoy.head.width == -1,
      s"codec decoy must quarantine with one sentinel row: ${decoy.toSeq}")
  }

  test("registered mm_frames_mp4 == the raw block-definition rows " +
      "INCLUDING the decoy's quarantine sentinel (the oracle pins the " +
      "routing boundary, not just the happy path)") {
    val got = PipelineQueries.mmFramesMp4(spark, "unused")
      .as[(Long, Long, Long, Long, Long, String)].collect().toSet
    val want = Mp4RemuxFixture.expectedRows
      .map { case (id, n, w, h, us, csv) =>
        (id, n, w.toLong, h.toLong, us, csv)
      }.toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("adversarial zoo: every malformed variant QUARANTINES (total, " +
      "no task kill) — truncation, trailing junk, double mdat, " +
      "sample range escaping mdat, a second video track, a variable " +
      "frame clock, 64-bit largesize, and garbage") {
    val good = Mp4RemuxFixture.mp4Bytes(0)
    def patched(f: Array[Byte] => Array[Byte]): Array[Byte] =
      f(good.clone())
    // locate moov to craft targeted corruption: stts entry_count at
    // +12 from the 'stts' fourcc, stco first offset at +16
    def indexOf(pat: String): Int = {
      val p = pat.getBytes("US-ASCII")
      (0 to good.length - p.length)
        .find(i => p.indices.forall(j => good(i + j) == p(j))).get
    }
    val zoo: Seq[(String, Array[Byte])] = Seq(
      "truncated" -> good.take(good.length / 2),
      "trailing junk" -> (good ++ Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)),
      "garbage with ftyp magic" ->
        (good.take(8) ++ Array.tabulate[Byte](64)(i => (i * 37).toByte)),
      "stts two runs (variable clock)" -> patched { b =>
        b(indexOf("stts") + 11) = 2; b // entry_count 1 -> 2
      },
      "stco offset escaping mdat" -> patched { b =>
        val p = indexOf("stco") + 12
        b(p) = 0x7F.toByte; b // first chunk offset -> huge
      },
      "empty" -> Array.empty[Byte],
      "null" -> null.asInstanceOf[Array[Byte]])
    val rows = MultimodalOps.videoFramePhashesPartitioned(
      zoo.zipWithIndex.map { case ((_, b), i) => (900L + i, b) }
        .toDF("clip_id", "video"),
      "clip_id", "video", brightShift = 0).collect()
    zoo.zipWithIndex.foreach { case ((name, _), i) =>
      val r = rows.filter(_.id == 900L + i)
      assert(r.length == 1 && r.head.width == -1,
        s"zoo '$name' must quarantine: ${r.toSeq}")
    }
    // and the control: the unpatched clip still decodes
    val ctrl = MultimodalOps.videoFramePhashesPartitioned(
      Seq((0L, good)).toDF("clip_id", "video"),
      "clip_id", "video", brightShift = 0).collect()
    assert(ctrl.forall(_.width != -1) &&
      ctrl.length == VideoRemuxFixture.frames(0))
  }

  test("track routing: an AUDIO ('soun') track interleaves legally " +
      "and is skipped WHOLE (decode identical to the single-track " +
      "clip); a SECOND video track quarantines — its frames must not " +
      "merge into one histogram (the AVI single-stream rule)") {
    val good = Mp4RemuxFixture.mp4Bytes(0)
    def be32(v: Long) = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      (v & 0xFF).toByte)
    def u32(b: Array[Byte], p: Int): Long =
      ((b(p) & 0xFFL) << 24) | ((b(p + 1) & 0xFFL) << 16) |
        ((b(p + 2) & 0xFFL) << 8) | (b(p + 3) & 0xFFL)
    /** Locate a box by WALKING sizes (a bare fourcc grep could match
      * JPEG entropy bytes inside mdat — boxes are found structurally,
      * the way the walker itself does). */
    def findBox(b: Array[Byte], from: Int, to: Int, tpe: String): Int = {
      var p = from
      while (p + 8 <= to) {
        if (new String(b, p + 4, 4, "US-ASCII") == tpe) return p
        p += u32(b, p).toInt
      }
      fail(s"no $tpe box found")
    }
    /** Append a copy of the vide trak (optionally re-handled 'soun')
      * inside moov, growing the moov size field to cover it — moov is
      * the LAST top-level box, so mdat's absolute stco offsets stay
      * valid. */
    def withExtraTrak(handler: String): Array[Byte] = {
      val moovAt = findBox(good, 0, good.length, "moov")
      val moovLen = u32(good, moovAt).toInt
      val trakAt = findBox(good, moovAt + 8, moovAt + moovLen, "trak")
      val trakLen = u32(good, trakAt).toInt
      val extra = good.slice(trakAt, trakAt + trakLen)
      // trak > mdia > hdlr: handler_type sits 8 bytes into the payload
      val mdiaAt = findBox(extra, 8, trakLen, "mdia")
      val hdlrAt = findBox(extra, mdiaAt + 8,
        mdiaAt + u32(extra, mdiaAt).toInt, "hdlr")
      handler.getBytes("US-ASCII").zipWithIndex.foreach { case (c, i) =>
        extra(hdlrAt + 16 + i) = c // 8B header + 8B into the payload
      }
      good.slice(0, moovAt) ++
        be32(moovLen + trakLen.toLong) ++
        good.slice(moovAt + 4, moovAt + moovLen) ++ extra ++
        good.slice(moovAt + moovLen, good.length)
    }
    val withAudio = withExtraTrak("soun")
    val gotAudio = MultimodalOps.videoFramePhashesPartitioned(
      Seq((1L, withAudio)).toDF("clip_id", "video"),
      "clip_id", "video", brightShift = 0).collect()
    val gotMono = MultimodalOps.videoFramePhashesPartitioned(
      Seq((1L, good)).toDF("clip_id", "video"),
      "clip_id", "video", brightShift = 0).collect()
    assert(gotAudio.map(r => (r.frame, r.phash)).toSet ==
      gotMono.map(r => (r.frame, r.phash)).toSet &&
      gotMono.forall(_.width != -1),
      "an interleaved audio track must not change the video decode")
    val twoVideo = withExtraTrak("vide")
    val gotTwo = MultimodalOps.videoFramePhashesPartitioned(
      Seq((1L, twoVideo)).toDF("clip_id", "video"),
      "clip_id", "video", brightShift = 0).collect()
    assert(gotTwo.length == 1 && gotTwo.head.width == -1,
      s"a second video track must quarantine: ${gotTwo.toSeq}")
  }

  test("live video gate is MP4-general too: an MP4 probe against the " +
      "GIF corpus lands neardup on its GIF sibling at max_hamming 0, " +
      "and the codec decoy probe quarantines") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamOps
    implicit val sqlCtx = spark.sqlContext
    val gifCorpus = spark.read.parquet(VideoRemuxFixture.Path)
      .filter(col("clip_id") < VideoRemuxFixture.IdBase + M)
    val in = MemoryStream[(Long, Array[Byte])]
    val gated = StreamOps.videoGateStream(
      in.toDF().toDF("clip_id", "video"), gifCorpus, bytesCol = "video",
      corpusBytesCol = "video")
    val q = StreamOps.toMemory(
      gated.select("clip_id", "decision", "matched_id", "max_hamming"),
      "video_gate_mp4_test", OutputMode.Append,
      tempDir("graft-ckpt"))
    try {
      in.addData((0 to M).map(i =>
        (6000L + i, Mp4RemuxFixture.mp4Bytes(i))).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("video_gate_mp4_test").collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
      (0 until M).foreach { i =>
        assert(got(6000L + i) ==
          (("neardup", VideoRemuxFixture.IdBase + i, 0L)), got(6000L + i))
      }
      assert(got(6000L + M)._1 == "quarantine", got(6000L + M))
    } finally q.stop()
  }
}
