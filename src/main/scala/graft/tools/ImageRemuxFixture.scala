package graft.tools

/**
 * Deterministic committed MIXED-CONTAINER image corpus — the
 * cross-container ground truth that makes `mm_phash_neardup` /
 * `mm_phash_clusters` container-general, completing the r18→r19
 * remux trilogy (audio WAV+AU+AIFF, video GIF+AVI+MP4, now image
 * PNG+JPEG+BMP): the same image pixels committed as a PNG, a JPEG
 * RE-ENCODE, and a 24-bit BMP, which MUST pair at hamming 0 (an image-dedup operator
 * that only matches within one container misses the most common real
 * duplicate — the same picture saved through a different encoder; a
 * real image corpus is mostly JPEG). The reference pipeline's data
 * model treats payload bytes as opaque binary sniffed at decode
 * (storm-bench reads whatever bytes the spout hands it); this
 * fixture pins the engine's sniffing dispatch (`ImageIO.read` inside
 * `MultimodalOps.phashGrid`) end to end inside the dedup loop.
 *
 * EXACTNESS across all three codecs (PNG and BMP lossless by
 * definition; JPEG engineered exact): every image is a mosaic of
 * 16×16-aligned FLAT GRAY blocks at MID-BIN levels (the
 * [[JpegFixture]] device). PNG is lossless by definition; flat
 * mid-bin gray blocks round-trip the JDK JPEG codec at quality 0.95
 * PIXEL-EXACTLY (measured for the r19 [[VideoRemuxFixture]]: 0
 * non-exact pixels across the full dims/level sweep — a flat block
 * has only a DC coefficient and gray means neutral chroma, so there
 * is nothing to ring or subsample; re-measured for this fixture's
 * sweep including the PROGRESSIVE arm by [[ImageRemuxSpec]]). Both
 * containers therefore decode to the IDENTICAL raw block definition,
 * the re-encode pairs' hamming is exactly 0, and the oracle stays
 * pure raw-pixel arithmetic through the independent
 * [[PngFixture.refPhash64]] — no PNG bytes, no JPEG bytes, no
 * ImageIO.
 *
 * Image id layout (ids offset by [[IdBase]] to stay disjoint from
 * [[PngFixture]]'s 0..47 and its -(id+1) variant keyspace — the two
 * corpora UNION into one mm_phash_neardup input):
 *   - IdBase + i        (i < M)  PNG encoding of base content i;
 *   - IdBase + M + i    (i < M)  JPEG re-encode of base content i —
 *     identical pixels, MUST pair with its PNG sibling at hamming 0
 *     (odd i written PROGRESSIVE, gating the multi-scan decode path
 *     inside the dedup loop too);
 *   - IdBase + 2M + i   (i < M)  BMP re-encode — 24-bit uncompressed
 *     (lossless by definition), completing each content's
 *     (PNG, JPEG, BMP) re-encode TRIANGLE at hamming 0;
 *   - IdBase + 3M       CORRUPT decoy: JPEG magic over garbage — must
 *     QUARANTINE (width −1, sentinel hash) and never enter the
 *     banded join (the committed-corpus form of the injection-zoo
 *     quarantine pin: two broken files must not "pair" at 0).
 *
 * Base contents are decorrelated by content-dependent spatial
 * frequencies (block-coordinate coefficients vary with i), so images
 * of DIFFERENT content sit far outside the hamming radius —
 * spec-verified from [[expectedNeardupHashes]].
 */
object ImageRemuxFixture {
  /** Distinct base contents (total corpus = 3M + 1 images). */
  val M = 6
  /** First image id — disjoint from PngFixture's 0..N-1 AND from the
   *  −(id+1) variant keyspace both corpora ride. */
  val IdBase = 1000L
  /** Flat-block edge — PINNED to [[JpegFixture.Block]] (grayMosaic
   *  fills blocks at that stride); dims are multiples, so JPEG
   *  macroblocks stay inside one flat region. */
  val Block: Int = JpegFixture.Block

  val Path: String = sys.env.getOrElse("GRAFT_IMAGEREMUX_FIXTURE",
    "/root/repo/data/imageremux_fixture.parquet")

  /** Total images committed (M re-encode triples + the corrupt decoy). */
  val Total: Int = 3 * M + 1

  /** Dimensions of base content i: 32..64 px per side (≥ 2 blocks
   *  per side — a single-block image is FLAT and its DCT hash
   *  degenerates to median ties). */
  def dims(i: Int): (Int, Int) =
    (Block * (2 + i % 3), Block * (2 + (i * 2) % 3))

  /** Mid-bin gray level of base content i, block (bx, by) —
   *  frequencies depend on i so contents differ STRUCTURALLY, not by
   *  a near-uniform level shift a perceptual hash would (correctly)
   *  ignore. */
  def grayLevel(i: Int, bx: Int, by: Int): Int =
    ((i * 9 + bx * (5 + 2 * (i % 4)) + by * (11 + 3 * (i % 5))) % 16) *
      16 + 8

  /** The mm_phash_neardup hash rows this corpus contributes, from the
   *  raw block definition via the independent
   *  [[PngFixture.refPhash64]]: every DECODABLE image on id (PNG and
   *  JPEG siblings share one content, hence one hash), its
   *  brightness-shifted variant on the −(id+1) keyspace (the query's
   *  pooling convention). The corrupt decoy contributes NO rows —
   *  the corpus quarantine rule, mirrored. */
  def expectedNeardupHashes(shift: Int): Seq[(Long, Long)] =
    (0 until 3 * M).flatMap { id =>
      val base = id % M
      val (w, h) = dims(base)
      def lum(x: Int, y: Int): Int = grayLevel(base, x / Block, y / Block)
      val gid = IdBase + id
      Seq((gid, PngFixture.refPhash64(lum, w, h)),
        (-(gid + 1), PngFixture.refPhash64(
          (x, y) => math.min(255, lum(x, y) + shift), w, h)))
    }

  /** (img_id, width, height, hist_csv) of the BMP arm from the raw
   *  block definition — the `mm_decode_bmp` oracle side (no BMP
   *  bytes, no ImageIO): each flat block contributes Block² pixels
   *  to its mid-anchored luminance bin (the JpegFixture.expectedRows
   *  arithmetic over THIS fixture's contents). */
  def expectedBmpDecodeRows: Seq[(Long, Int, Int, String)] =
    (0 until M).map { i =>
      val (w, h) = dims(i)
      val hist = new Array[Long](16)
      var by = 0
      while (by < h / Block) {
        var bx = 0
        while (bx < w / Block) {
          hist(grayLevel(i, bx, by) >> 4) += (Block.toLong * Block)
          bx += 1
        }
        by += 1
      }
      (IdBase + 2 * M + i, w, h, hist.mkString(","))
    }

  /** The committed payload of image (IdBase + id): a real PNG for
   *  ids < M, a real JPEG (quality 0.95; PROGRESSIVE for odd ids)
   *  for ids < 2M, a real 24-bit BMP for ids < 3M, the corrupt
   *  decoy past that. */
  def imageBytes(id: Int): Array[Byte] =
    if (id >= 3 * M)
      // JPEG SOI magic over garbage: sniffed as JPEG, then the
      // marker walk fails — the decode must quarantine, not throw
      Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte) ++
        Array.tabulate[Byte](60)(i => (i * 41 + 7).toByte)
    else {
      val base = id % M
      val (w, h) = dims(base)
      val img = JpegFixture.grayMosaic(w, h,
        (bx, by) => grayLevel(base, bx, by))
      if (id < M) {
        val bos = new java.io.ByteArrayOutputStream()
        // assert the writer verdict: a silently-refused format would
        // commit EMPTY payloads that quarantine instead of decode
        require(javax.imageio.ImageIO.write(img, "png", bos),
          "no ImageIO PNG writer accepted the image type")
        bos.toByteArray
      } else if (id < 2 * M)
        JpegFixture.encodeJpeg(img, progressive = id % 2 == 1)
      else {
        val bos = new java.io.ByteArrayOutputStream()
        require(javax.imageio.ImageIO.write(img, "bmp", bos),
          "no ImageIO BMP writer accepted the image type")
        bos.toByteArray
      }
    }

  /** One-shot generator: writes the fixture parquet (single file —
   *  the corpus is KBs and commits as one object). Idempotent by
   *  construction: every byte is a function of the constants above. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(Path)
    val spark = graft.GraftSession("graft-image-remux-fixture")
    import spark.implicits._
    (0 until Total).map(i => (IdBase + i, imageBytes(i)))
      .toDF("img_id", "image")
      .coalesce(1).write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
