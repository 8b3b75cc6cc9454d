package graft.queries

import graft.SparkSpec
import graft.ops.MultimodalOps
import graft.tools.{ImageRemuxFixture, PngFixture}
import org.apache.spark.sql.functions._

/** Container-general image near-dup: the mixed PNG + JPEG + BMP
  * corpus ([[ImageRemuxFixture]]) end to end — an image and its
  * re-encodes in the OTHER containers MUST pair at hamming 0
  * (PNG/BMP lossless; pixel-exact JPEG round-trip of flat mid-bin
  * mosaics, progressive arm included), the corrupt decoy must
  * quarantine, and the registered mixed-union queries must match
  * brute force over the independent refPhash64 ground truth.
  * Completes the remux trilogy (audio r19, video r19, image r20). */
class ImageRemuxSpec extends SparkSpec {
  import spark.implicits._

  private val M = ImageRemuxFixture.M
  private val B = ImageRemuxFixture.IdBase
  private val Shift = PipelineQueries.PhashShift
  private lazy val remux = spark.read.parquet(ImageRemuxFixture.Path)

  private def hashCorpus: Seq[(Long, Long)] =
    PngFixture.expectedNeardupHashes(Shift) ++
      ImageRemuxFixture.expectedNeardupHashes(Shift)

  /** Brute-force pair set over a pooled hash corpus — the operator's
    * qualification rule re-derived with no banding. */
  private def brutePairs(corpus: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
    (for {
      (a, ha) <- corpus; (b, hb) <- corpus if a < b
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= PipelineQueries.PhashNeardupMaxHamming
    } yield (a, b, d.toLong)).toSet

  test("decoded hashes of EVERY committed remux image == the fixture's " +
      "refPhash64 rows (base AND shifted variant) — proves the " +
      "magic-sniffing dispatch, the pixel-exact JPEG round-trip of " +
      "flat mid-bin mosaics INCLUDING the progressive arm, and the " +
      "corrupt decoy's quarantine sentinel") {
    val got = MultimodalOps.phashPartitioned(
        remux, "img_id", "image", Shift)
      .collect()
    val byId = got.map(f => f.id -> f).toMap
    val want = ImageRemuxFixture.expectedNeardupHashes(Shift).toMap
    (0 until 3 * M).foreach { i =>
      val f = byId(B + i)
      val (w, h) = ImageRemuxFixture.dims(i % M)
      assert((f.width, f.height) == ((w, h)), s"dims of ${B + i}: $f")
      assert(f.phash == want(B + i),
        s"base hash of ${B + i} diverged from refPhash64")
      assert(f.phash_shifted == want(-(B + i + 1)),
        s"variant hash of ${B + i} diverged from refPhash64")
    }
    // the corrupt decoy carries the quarantine sentinel
    val decoy = byId(B + 3 * M)
    assert(decoy.width == -1 && decoy.height == -1,
      s"corrupt decoy must quarantine: $decoy")
  }

  test("fixture ground truth: each content's PNG and JPEG siblings " +
      "hash IDENTICALLY (hamming exactly 0, variants too) and " +
      "DIFFERENT contents separate past the radius — no accidental " +
      "cross-content or cross-fixture pair") {
    val fp = ImageRemuxFixture.expectedNeardupHashes(Shift).toMap
    (0 until M).foreach { i =>
      assert(fp(B + i) == fp(B + M + i),
        s"JPEG re-encode $i drifted from its PNG sibling")
      assert(fp(B + i) == fp(B + 2 * M + i),
        s"BMP re-encode $i drifted from its PNG sibling")
      assert(fp(-(B + i + 1)) == fp(-(B + M + i + 1)) &&
        fp(-(B + i + 1)) == fp(-(B + 2 * M + i + 1)),
        s"variant of re-encode $i drifted")
    }
    // cross-content separation, and separation from the PNG fixture:
    // every qualifying pair in the full pooled corpus stays within
    // one content (remux half) or one image (PNG-fixture half)
    brutePairs(hashCorpus).foreach { case (a, b, _) =>
      def content(id: Long): Long = {
        val pos = if (id < 0) -id - 1 else id
        if (pos >= B) (pos - B) % M + B else pos
      }
      assert(content(a) == content(b),
        s"accidental cross-content pair ($a, $b)")
    }
  }

  test("registered mm_phash_neardup (mixed union) == brute force over " +
      "the pooled independent hashes; cross-container pairs sit at " +
      "hamming 0; the quarantined decoy appears in NO pair") {
    val got = PipelineQueries.mmPhashNeardup(spark, "unused")
      .as[(Long, Long, Long)].collect().toSet
    val want = brutePairs(hashCorpus)
    assert(got == want, s"missing=${(want -- got).take(5)} " +
      s"extra=${(got -- want).take(5)}")
    (0 until M).foreach { i =>
      Seq((B + i, B + M + i), (B + i, B + 2 * M + i),
        (B + M + i, B + 2 * M + i)).foreach { case (a, bb) =>
        assert(got.contains((a, bb, 0L)),
          s"cross-container pair ($a, $bb) missing at hamming 0")
      }
      assert(got.contains((-(B + M + i + 1), -(B + i + 1), 0L)) &&
        got.contains((-(B + 2 * M + i + 1), -(B + i + 1), 0L)),
        s"cross-container VARIANT pairs $i missing at hamming 0")
    }
    val decoy = B + 3 * M
    assert(!got.exists(p => p._1 == decoy || p._2 == decoy ||
      p._1 == -(decoy + 1) || p._2 == -(decoy + 1)),
      "the quarantined decoy entered the banded join")
  }

  test("registered mm_phash_clusters (mixed union) == brute-force " +
      "connected components: each content's PNG, JPEG and pooled " +
      "variants collapse into ONE cluster keyed by its min id; the " +
      "decoy is absent; the PNG-fixture half keeps its layout") {
    val got = PipelineQueries.mmPhashClusters(spark, "unused")
      .as[(Long, Long, Boolean)].collect().toSet
    // brute-force CC over the pooled hashes (union-find)
    val ids = hashCorpus.map(_._1)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    brutePairs(hashCorpus).foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = ids.map(i => (i, find(i), i == find(i))).toSet
    assert(got == want, s"missing=${(want -- got).take(5)} " +
      s"extra=${(got -- want).take(5)}")
    // cross-container collapse per content: the PNG and JPEG siblings
    // ALWAYS share a cluster (hamming 0), the two variants likewise;
    // bases and variants merge further iff the content's
    // base-variant distance is within radius (fixture-derived, not
    // assumed — e.g. content 0's shift lands beyond 6)
    val cl = got.map(r => r._1 -> r._2).toMap
    val fp = ImageRemuxFixture.expectedNeardupHashes(Shift).toMap
    (0 until M).foreach { i =>
      assert(cl(B + i) == cl(B + M + i) &&
        cl(B + i) == cl(B + 2 * M + i),
        s"content $i: PNG/JPEG/BMP siblings split clusters")
      assert(cl(-(B + i + 1)) == cl(-(B + M + i + 1)) &&
        cl(-(B + i + 1)) == cl(-(B + 2 * M + i + 1)),
        s"content $i: the three variants split clusters")
      val within = java.lang.Long.bitCount(
        fp(B + i) ^ fp(-(B + i + 1))) <=
        PipelineQueries.PhashNeardupMaxHamming
      assert((cl(B + i) == cl(-(B + i + 1))) == within,
        s"content $i: base-variant merge disagrees with the radius")
    }
    assert(!got.exists(_._1 == B + 3 * M), "decoy labeled despite quarantine")
  }

  test("live phash gate is container-general too: JPEG and BMP " +
      "probes against a PNG-only corpus land neardup on their PNG " +
      "siblings at hamming 0") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamOps
    implicit val sqlCtx = spark.sqlContext
    val pngCorpus = remux.filter(col("img_id") < B + M)
      .select(col("img_id"), col("image").as("png"))
    val in = MemoryStream[(Long, Array[Byte])]
    val gated = StreamOps.phashGateStream(
      in.toDF().toDF("img_id", "png"), pngCorpus)
    val q = StreamOps.toMemory(
      gated.select("img_id", "decision", "matched_id", "hamming"),
      "phash_gate_remux_test", OutputMode.Append,
      tempDir("graft-ckpt"))
    try {
      in.addData((0 until 2 * M).map(i =>
        (5000L + i, ImageRemuxFixture.imageBytes(M + i))).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("phash_gate_remux_test").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
          r.getLong(3)))).toMap
      (0 until 2 * M).foreach { i => // first M JPEG, next M BMP probes
        assert(got(5000L + i) == (("neardup", B + i % M, 0L)),
          got(5000L + i))
      }
    } finally q.stop()
  }
}
