package graft.queries

import graft.SparkSpec
import graft.ops.{DedupOps, MultimodalOps}
import graft.tools.VideoDupFixture
import org.apache.spark.sql.functions._

/** mm_video_neardup end to end: the per-frame hash decode against the
  * fixture's INDEPENDENT raw-pixel reference, the clip-level verdict
  * against brute force (variants qualify; permuted and truncated
  * decoys must not), alignment as a join key, and the quarantine
  * rule. */
class VideoNeardupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = spark.read.parquet(VideoDupFixture.Path)

  test("decoded per-frame hashes == the fixture's refPhash64 rows " +
      "(proves GIF decode AND the DCT hash against the independent " +
      "reference, every committed clip)") {
    val got = MultimodalOps.gifFramePhashesPartitioned(
        corpus, "clip_id", "gif", brightShift = 0)
      .collect().map(r => (r.id, r.frame, r.phash)).toSet
    val want = VideoDupFixture.expectedFramePhashes.toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("shift 0 collapses the control channel to the base hash " +
      "(single DCT per frame)") {
    val rows = MultimodalOps.gifFramePhashesPartitioned(
      corpus.limit(3), "clip_id", "gif", brightShift = 0).collect()
    assert(rows.nonEmpty && rows.forall(r => r.phash_shifted == r.phash))
  }

  test("clip verdicts == brute force: exactly the 10 (base, variant) " +
      "pairs qualify; frame-PERMUTED decoys fail alignment; the " +
      "TRUNCATED decoy (all aligned distances ZERO) fails the count " +
      "check") {
    val got = PipelineQueries.mmVideoNeardupOf(corpus, bytesCol = "gif")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val want = (0 until VideoDupFixture.N)
      .map(i => (i.toLong, (i + VideoDupFixture.N).toLong)).toSet
    assert(got == want, got)
    // the truncated decoy is the sharp edge: its aligned prefix is
    // IDENTICAL to base 0 (hamming 0 on every shared frame) — only
    // the frame-count equality rejects it
    val truncId = 2L * VideoDupFixture.N + VideoDupFixture.PermN
    val pre = VideoDupFixture.expectedFramePhashes
      .filter(r => r._1 == 0L || r._1 == truncId)
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    assert(pre(0L).take(pre(truncId).length) == pre(truncId),
      "fixture drifted: the truncated decoy must share base 0's prefix")
  }

  test("mm_video_clusters labels the 10 (base, variant) pairs as " +
      "two-member clusters and leaves the 3 decoys singletons, " +
      "min-id survivors") {
    val got = PipelineQueries.mmVideoClustersOf(corpus, bytesCol = "gif")
      .select("clip_id", "cluster", "is_survivor")
      .as[(Long, Long, Boolean)].collect().toSet
    val want =
      (0 until VideoDupFixture.N).flatMap { i =>
        Seq((i.toLong, i.toLong, true),
          ((i + VideoDupFixture.N).toLong, i.toLong, false))
      }.toSet ++
        (2 * VideoDupFixture.N until VideoDupFixture.Total)
          .map(i => (i.toLong, i.toLong, true)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("temporal alignment is a JOIN KEY: identical hashes at " +
      "DIFFERENT frame indexes never become candidates") {
    val df = Seq((1L, 0L, 12345L), (2L, 1L, 12345L), (3L, 0L, 12345L))
      .toDF("id", "frame", "h")
    val pairs = DedupOps.hammingNearDups64Aligned(
        df, col("id"), col("frame"), col("h"), maxHamming = 6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L)), pairs) // 2 aligns with neither
  }

  /** A local grayscale animated-GIF encoder for CUSTOM probe clips —
    * the fixture writer's loop with an arbitrary pixel fn. */
  private def customGif(w: Int, h: Int, n: Int,
      pix: (Int, Int, Int) => Int): Array[Byte] = {
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (f <- 0 until n) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val g = pix(f, x, y)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null),
        writer.getDefaultWriteParam)
    }
    writer.endWriteSequence()
    ios.close()
    bos.toByteArray
  }

  test("videoGateStream: corpus replays self-match at max_hamming 0; " +
      "a between-deltas near-dup probe matches its base family; a " +
      "TRUNCATED-prefix probe admits (the count rule); a " +
      "frame-ROTATED probe admits (alignment); corrupt bytes " +
      "quarantine; empty corpus and the cap refuse loudly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamOps
    def ckpt() = tempDir("graft-ckpt")
    implicit val sqlCtx = spark.sqlContext
    val N = VideoDupFixture.N
    val (w2, h2) = VideoDupFixture.dims(2)
    val (w3, h3) = VideoDupFixture.dims(3)
    val (w4, h4) = VideoDupFixture.dims(4)
    val rows: Seq[(Long, String, Array[Byte])] =
      (0 until VideoDupFixture.Total).map(i =>
        (1000L + i, s"self$i", VideoDupFixture.gifBytes(i))) ++
        Seq(
          (2000L, "neardup5", customGif(w2, h2, VideoDupFixture.frames(2),
            (f, x, y) => VideoDupFixture.grayLevel(2, f, x, y) + 5)),
          (2001L, "truncated", customGif(w3, h3, 2,
            (f, x, y) => VideoDupFixture.grayLevel(3, f, x, y))),
          (2002L, "rotated", customGif(w4, h4, VideoDupFixture.frames(4),
            (f, x, y) => VideoDupFixture.grayLevel(4,
              (f + 1) % VideoDupFixture.frames(4), x, y))),
          (2003L, "corrupt", Array[Byte](9, 9, 9)))
    val in = MemoryStream[(Long, String, Array[Byte])]
    val gated = StreamOps.videoGateStream(
      in.toDF().toDF("clip_id", "tag", "gif"), corpus)
    val q = StreamOps.toMemory(
      gated.select("clip_id", "tag", "decision", "matched_id",
        "max_hamming"),
      "video_gate_test", OutputMode.Append, ckpt())
    try {
      in.addData(rows.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("video_gate_test").collect()
        .map(r => r.getLong(0) -> ((r.getString(2),
          if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(4))))))
        .toMap
      assert(got.size == rows.size, "every input row must emit")
      // corpus replays: decision == the BRUTE-FORCE best over the
      // independent fixture hashes — most clips match themselves at
      // 0, but a variant whose frames sit at hamming 0 from its base
      // TIES and the (maxD, id) tiebreak correctly picks the BASE
      val fp = VideoDupFixture.expectedFramePhashes
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
      def bruteBest(i: Long): (Long, Long) =
        fp.keys.toSeq.filter(c => fp(c).length == fp(i).length)
          .flatMap { c =>
            val ds = fp(i).zip(fp(c)).map { case (a, b) =>
              java.lang.Long.bitCount(a ^ b)
            }
            if (ds.max <= PipelineQueries.VideoFrameMaxHamming)
              Some((ds.max.toLong, c))
            else None
          }.min match { case (d, c) => (c, d) }
      (0 until VideoDupFixture.Total).foreach { i =>
        val (dec, m) = got(1000L + i)
        assert(dec == "neardup" && m.contains(bruteBest(i.toLong)),
          s"self$i: $dec $m want ${bruteBest(i.toLong)}")
        assert(m.exists(_._2 == 0L),
          s"self$i replay must sit at distance 0 from SOMETHING: $m")
      }
      val (d0, m0) = got(2000L)
      assert(d0 == "neardup" &&
        m0.exists(x => x._1 == 2L || x._1 == 2L + N), s"$d0 $m0")
      assert(got(2001L)._1 == "admit", got(2001L)) // count rule
      assert(got(2002L)._1 == "admit", got(2002L)) // alignment
      assert(got(2003L)._1 == "quarantine" && got(2003L)._2.isEmpty)
    } finally q.stop()
    val e1 = intercept[IllegalArgumentException] {
      StreamOps.videoGateStream(
        in.toDF().toDF("clip_id", "tag", "gif"), corpus, driverCap = 4)
    }
    assert(e1.getMessage.contains("mmVideoNeardup"), e1.getMessage)
    import spark.implicits._
    val junk = Seq((900L, Array[Byte](1, 2))).toDF("clip_id", "gif")
    val e2 = intercept[IllegalArgumentException] {
      StreamOps.videoGateStream(
        in.toDF().toDF("clip_id", "tag", "gif"), junk)
    }
    assert(e2.getMessage.contains("EMPTY"), e2.getMessage)
  }

  test("quarantined clips are routed (one sentinel row) and never " +
      "enter the dedup join") {
    val garbage = Array.tabulate[Byte](64)(i => (i * 37).toByte)
    val mixed = Seq(
      (100L, VideoDupFixture.gifBytes(0)),
      (110L, VideoDupFixture.gifBytes(VideoDupFixture.N)),
      (99L, garbage))
      .toDF("clip_id", "gif")
    val hashed = MultimodalOps.gifFramePhashesPartitioned(
      mixed, "clip_id", "gif", brightShift = 0).collect()
    assert(hashed.count(r => r.id == 99L) == 1 &&
      hashed.filter(_.id == 99L).forall(_.width == -1))
    val got = PipelineQueries.mmVideoNeardupOf(mixed, bytesCol = "gif")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 110L)), got)
  }
}
