package graft.queries

import graft.SparkSpec
import graft.ops.MultimodalOps
import graft.tools.{VideoDupFixture, VideoRemuxFixture}
import org.apache.spark.sql.functions._

/** Container-general video near-dup: the mixed GIF + MJPEG-AVI corpus
  * ([[VideoRemuxFixture]]) end to end — a clip and its re-mux in the
  * OTHER container MUST pair, the AVI decode must land on the exact
  * raw-definition hashes (pixel-exact JPEG round-trip of flat mid-bin
  * mosaics), and the registered mixed-union queries must match brute
  * force over the independent refPhash64 ground truth. */
class VideoRemuxSpec extends SparkSpec {
  import spark.implicits._

  private val M = VideoRemuxFixture.M
  private val B = VideoRemuxFixture.IdBase
  private lazy val remux = spark.read.parquet(VideoRemuxFixture.Path)

  /** Brute-force clip pair set from a (id, frame, hash) ground truth:
    * equal frame counts + every aligned distance within the radius —
    * the operator's qualification rule re-derived with no banding. */
  private def brutePairs(fp: Map[Long, Seq[Long]]): Set[(Long, Long)] = {
    val ids = fp.keys.toSeq.sorted
    (for {
      i <- ids; j <- ids if i < j && fp(i).length == fp(j).length
      ds = fp(i).zip(fp(j)).map { case (a, b) =>
        java.lang.Long.bitCount(a ^ b)
      }
      if ds.max <= PipelineQueries.VideoFrameMaxHamming
    } yield (i, j)).toSet
  }

  private def toMap(rows: Seq[(Long, Long, Long)]): Map[Long, Seq[Long]] =
    rows.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap

  test("decoded per-frame hashes of EVERY mixed-corpus clip == the " +
      "fixture's refPhash64 rows — proves the magic-sniffing dispatch, " +
      "the MJPEG-AVI decode, AND the pixel-exact JPEG round-trip of " +
      "flat mid-bin mosaics (a GIF and its AVI re-mux hash identically)") {
    val got = MultimodalOps.videoFramePhashesPartitioned(
        remux, "clip_id", "video", brightShift = 0)
      .collect().map(r => (r.id, r.frame, r.phash)).toSet
    val want = VideoRemuxFixture.expectedFramePhashes.toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("fixture ground truth: the ONLY qualifying pairs in the full " +
      "THREE-container union are the 10 GIF (base, variant) pairs and " +
      "each content's (GIF, AVI), (GIF, MP4), (AVI, MP4) re-mux " +
      "triangle — equal-count decoys of DIFFERENT content separate " +
      "past the radius, and the truncated AVI decoy shares base 0's " +
      "aligned prefix at hamming 0") {
    val B2 = graft.tools.Mp4RemuxFixture.IdBase
    val fp = toMap(VideoDupFixture.expectedFramePhashes ++
      VideoRemuxFixture.expectedFramePhashes ++
      graft.tools.Mp4RemuxFixture.expectedFramePhashes)
    val want = (0 until VideoDupFixture.N)
      .map(i => (i.toLong, (i + VideoDupFixture.N).toLong)).toSet ++
      (0 until M).flatMap(i => Seq((B + i, B + M + i),
        (B + i, B2 + i), (B + M + i, B2 + i))).toSet
    assert(brutePairs(fp) == want,
      s"unexpected=${brutePairs(fp) -- want} missing=${want -- brutePairs(fp)}")
    // cross-container pairs sit at EXACTLY 0 (same pixels, three codecs)
    (0 until M).foreach { i =>
      assert(fp(B + i) == fp(B + M + i), s"re-mux $i drifted from its GIF")
      assert(fp(B + i) == fp(B2 + i), s"MP4 re-mux $i drifted from its GIF")
    }
    // the truncated AVI decoy: aligned prefix identical, count differs
    val trunc = fp(B + 2 * M)
    assert(fp(B).take(trunc.length) == trunc && trunc.length < fp(B).length,
      "fixture drifted: truncated AVI decoy must share base 0's prefix")
  }

  test("registered mm_video_neardup (mixed union) == brute force; " +
      "cross-container pairs report max_hamming 0 over the full frame " +
      "count") {
    val got = PipelineQueries.mmVideoNeardup(spark, "unused")
      .select("id1", "id2", "n_frames", "max_hamming")
      .as[(Long, Long, Long, Long)].collect()
    val B2 = graft.tools.Mp4RemuxFixture.IdBase
    val fp = toMap(VideoDupFixture.expectedFramePhashes ++
      VideoRemuxFixture.expectedFramePhashes ++
      graft.tools.Mp4RemuxFixture.expectedFramePhashes)
    assert(got.map(r => (r._1, r._2)).toSet == brutePairs(fp))
    (0 until M).foreach { i =>
      Seq((B + i, B + M + i), (B + i, B2 + i), (B + M + i, B2 + i))
        .foreach { case (a, bb) =>
          val row = got.find(r => r._1 == a && r._2 == bb)
          assert(row.exists(r => r._3 == VideoRemuxFixture.frames(i) &&
            r._4 == 0L), s"cross-container pair ($a, $bb): $row")
        }
    }
  }

  test("registered mm_video_clusters (mixed union): each content's " +
      "AVI and MP4 re-muxes join the GIF sibling's cluster with the " +
      "GIF id (smallest) as survivor; the truncated AVI decoy stays a " +
      "singleton; the quarantined MP4 codec decoy is ABSENT") {
    val B2 = graft.tools.Mp4RemuxFixture.IdBase
    val got = PipelineQueries.mmVideoClusters(spark, "unused")
      .select("clip_id", "cluster", "is_survivor")
      .as[(Long, Long, Boolean)].collect().toSet
    val wantRemux = (0 until M).flatMap { i =>
      Seq((B + i, B + i, true), (B + M + i, B + i, false),
        (B2 + i, B + i, false))
    }.toSet + ((B + 2 * M, B + 2 * M, true))
    val gotRemux = got.filter(_._1 >= B)
    assert(gotRemux == wantRemux,
      s"missing=${wantRemux -- gotRemux} extra=${gotRemux -- wantRemux}")
    assert(!got.exists(_._1 == B2 + M),
      "the quarantined MP4 codec decoy was labeled")
    // the GIF-fixture half keeps its r18 layout untouched
    assert(got.size ==
      VideoDupFixture.Total + VideoRemuxFixture.Total + M)
  }

  test("live video gate is container-general too: an AVI re-mux probe " +
      "against a GIF-only corpus lands neardup on its GIF sibling at " +
      "max_hamming 0") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamOps
    implicit val sqlCtx = spark.sqlContext
    val gifCorpus = remux.filter(col("clip_id") < B + M)
    val in = MemoryStream[(Long, Array[Byte])]
    val gated = StreamOps.videoGateStream(
      in.toDF().toDF("clip_id", "video"), gifCorpus, bytesCol = "video",
      corpusBytesCol = "video")
    val q = StreamOps.toMemory(
      gated.select("clip_id", "decision", "matched_id", "max_hamming"),
      "video_gate_remux_test", OutputMode.Append,
      tempDir("graft-ckpt"))
    try {
      in.addData((0 until M).map(i =>
        (5000L + i, VideoRemuxFixture.videoBytes(M + i))).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("video_gate_remux_test").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
          r.getLong(3)))).toMap
      (0 until M).foreach { i =>
        assert(got(5000L + i) == (("neardup", B + i, 0L)), got(5000L + i))
      }
    } finally q.stop()
  }
}
