package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Planted-skew stress fixtures for the band-join family — the
 * 100×-scale claim exercised on ADVERSARIAL data, not just the benign
 * driver corpus. Each fixture plants the hot key a web corpus actually
 * produces (a template copied into 30% of documents, a hot LSH band, a
 * boilerplate gram in every source) and pins BOTH sides of the
 * contract:
 *
 *   1. the documented in-code fallback (df / bucket cap, two-phase-agg
 *      survivorship) bounds the hot key's fan-out, and
 *   2. applying the guard loses nothing it shouldn't: every
 *      cross-cluster true pair survives, and the guarded result equals
 *      a plain-Scala reference computation.
 *
 * AQE's runtime skew split only engages on partitions past
 * skewedPartitionThresholdInBytes (256 MB) — unreachable in a unit
 * fixture — so what a spec CAN pin is the in-code guard, which is also
 * the only device that bounds OUTPUT size (a mega-bucket's pair count
 * is quadratic no matter how the join is scheduled; splitting the
 * partition just parallelizes the explosion).
 */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  private def filler(tag: String, n: Int): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  // ---- fixture A: a template paragraph copied verbatim into 30% of docs

  /** 100 docs: ids 0..29 are VERBATIM copies of one template (the
   *  mega-cluster), 30..33 are planted true near-dup pairs with unique
   *  content (30~31, 32~33), the rest unique filler. */
  private lazy val templateCorpus: Seq[(Long, String)] = {
    val template = filler("tmpl", 30)
    val nd = Seq(
      (30L, filler("pairx", 28) + " tailA tailB"),
      (31L, filler("pairx", 28) + " tailC tailD"),
      (32L, filler("pairy", 28) + " tailE tailF"),
      (33L, filler("pairy", 28) + " tailG tailH"))
    (0L until 30L).map(i => (i, template)) ++ nd ++
      (34L until 100L).map(i => (i, filler(s"uniq${i}x", 25)))
  }

  test("minhashCandidates maxBandDf drops the planted template " +
      "mega-bucket (fan-out collapses from quadratic to the cap bound) " +
      "while every cross-cluster true near-dup pair survives") {
    val df = templateCorpus.toDF("doc_id", "text")
    val uncapped = DedupOps.minhashCandidates(df, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the blow-up is real: all C(30,2) = 435 template pairs are candidates
    val templatePairs = (for {
      a <- 0L until 30L; b <- (a + 1) until 30L } yield (a, b)).toSet
    assert(templatePairs.subsetOf(uncapped),
      "verbatim template copies must all be mutual candidates uncapped")
    val capped = DedupOps.minhashCandidates(df, col("doc_id"), col("text"),
      maxBandDf = Some(8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.intersect(templatePairs).isEmpty,
      "a bucket past the cap must be dropped, not enumerated")
    // nothing outside the mega-cluster is lost
    assert(uncapped -- templatePairs == capped,
      s"cap must remove ONLY mega-bucket pairs: ${(uncapped -- templatePairs) diff capped}")
    assert(capped.contains((30L, 31L)) && capped.contains((32L, 33L)),
      "planted true near-dup pairs must survive the cap")
  }

  test("minhashNearDups with the cap still verifies exactly against a " +
      "plain-Scala shingle-Jaccard reference on the non-template corpus") {
    val df = templateCorpus.toDF("doc_id", "text")
    val got = DedupOps.minhashNearDups(df, col("doc_id"), col("text"),
      threshold = 0.5, maxBandDf = Some(8))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      .toMap
    // reference: exact Jaccard over 3-shingle string sets, all pairs
    // outside the template cluster (the capped universe)
    def shingleSet(t: String): Set[String] =
      t.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val sets = templateCorpus.filter(_._1 >= 30L).map { case (id, t) => id -> shingleSet(t) }
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= 0.5
    } yield (a, b) -> BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP)).toMap
    assert(want.nonEmpty, "fixture must contain true near-dups outside the template")
    assert(got == want, s"got $got want $want")
  }

  test("removeRepeatedSpans survivorship is the two-phase aggregate, not " +
      "a window sort: the planted 30%-boilerplate span keeps exactly its " +
      "first occurrence and the plan has no row_number over fp") {
    // 20 docs sharing a 12-word boilerplate run inside unique context
    val run = filler("boiler", 12)
    val docs = (0L until 20L).map(i =>
      (i, s"${filler(s"pre$i", 6)} $run ${filler(s"post$i", 6)}")) ++
      (20L until 30L).map(i => (i, filler(s"solo$i", 20)))
    val q = DedupOps.removeRepeatedSpans(docs.toDF("doc_id", "text"),
      col("doc_id"), col("text"), n = 4, minLen = 8)
    // plan shape: the survivorship must NOT sort the hot fp inside a
    // window — no row_number partitioned by fp (the doc_id-bounded
    // islands window legitimately keeps its row_number; doc windows
    // are bounded by one document, never by corpus-wide boilerplate)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.linesIterator.exists(l =>
        l.contains("row_number") && l.contains("fp#")),
      "fp survivorship must be the two-phase min aggregate:\n" + plan)
    val got = q.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 0 is the first occurrence (min (doc_id, p0)) — keeps the run;
    // docs 1..19 lose exactly the 12 boilerplate words
    assert(got(0L) == (24L, 0L), s"first occurrence must keep its span: ${got(0L)}")
    (1L until 20L).foreach { i =>
      assert(got(i) == (24L, 12L), s"doc $i must lose exactly the run: ${got(i)}")
    }
    (20L until 30L).foreach { i => assert(got(i) == (20L, 0L)) }
  }

  // ---- fixture B: a hot LSH band (one vector copied 40x)

  test("embeddingNearDupsLsh maxBucket drops the hot band bucket of a " +
      "40x-duplicated vector while distinct-vector near-dups survive") {
    val dim = 16
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(d => math.sin(seed * 31 + d * 7).toFloat)
    // ids 0..39: the SAME vector (mega-bucket in every band);
    // 100/101: a planted near-identical pair; 102..141: spread vectors
    val rows = (0L until 40L).map(i => (i, vec(1))) ++
      Seq((100L, vec(2)), (101L, vec(2).zipWithIndex.map {
        case (x, d) => if (d == 0) x + 1e-4f else x })) ++
      (102L until 142L).map(i => (i, vec(i.toInt * 7 + 3)))
    val df = rows.toDF("vec_id", "embedding")
    val dupPairs = (for { a <- 0L until 40L; b <- (a + 1) until 40L } yield (a, b)).toSet
    val uncapped = SimilarityOps.embeddingNearDupsLsh(df, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dupPairs.subsetOf(uncapped),
      "identical vectors must all pair uncapped (the quadratic blow-up)")
    val capped = SimilarityOps.embeddingNearDupsLsh(df, threshold = 0.99,
      maxBucket = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.intersect(dupPairs).isEmpty,
      "the 40-deep bucket must be dropped, not enumerated")
    assert(capped.contains((100L, 101L)),
      "the planted distinct near-dup pair must survive the cap")
    // the cap removes exactly the pairs TOUCHING the mega-cluster
    // (every bucket holding a cluster member is > cap deep — including
    // buckets where an outside vector coincidentally lands with it);
    // all pairs among distinct vectors survive
    val touching = uncapped.filter(p => p._1 < 40L || p._2 < 40L)
    assert(uncapped -- touching == capped,
      "cap must remove exactly the mega-bucket's pairs")
  }

  test("knnGraph maxBucket drops the 40x-duplicated vector's buckets: " +
      "duplicates emit no self-copy neighbor lists, distinct-vector " +
      "neighborhoods are unchanged") {
    val dim = 16
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(d => math.sin(seed * 31 + d * 7).toFloat)
    val rows = (0L until 40L).map(i => (i, vec(1))) ++
      Seq((100L, vec(2)), (101L, vec(2).zipWithIndex.map {
        case (x, d) => if (d == 0) x + 1e-4f else x })) ++
      (102L until 142L).map(i => (i, vec(i.toInt * 7 + 3)))
    val df = rows.toDF("vec_id", "embedding")
    def edges(g: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      g.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val uncapped = edges(SimilarityOps.knnGraph(df, k = 3))
    // the blow-up is real: every duplicate's neighbor list fills with
    // copies of itself (40 nodes x k self-copy edges)
    val dupSelfEdges = uncapped.filter(e => e._1 < 40L && e._2 < 40L)
    assert(dupSelfEdges.size == 40 * 3,
      s"uncapped duplicates must saturate their k lists with copies: ${dupSelfEdges.size}")
    val capped = edges(SimilarityOps.knnGraph(df, k = 3, maxBucket = Some(10)))
    assert(capped.forall(e => e._1 >= 40L && e._2 >= 40L),
      "every bucket holding a mega-cluster member is > cap deep, so no " +
        s"edge may touch the cluster: ${capped.filter(e => e._1 < 40L || e._2 < 40L)}")
    assert(capped.contains((100L, 101L)) && capped.contains((101L, 100L)),
      "the planted near-identical pair must remain mutual neighbors")
    // set-equality against a plain-Scala reference of the CAPPED
    // semantics: banding via the same deterministic sign kernel, then
    // buckets deeper than the cap dropped wholesale (a distinct
    // vector co-bucketed ONLY with the cluster loses that candidacy —
    // the documented cost of dropping the bucket, not its members),
    // then per-node top-k by exact cosine
    val bits = 4; val tables = 8; val cap = 10; val mask = (1L << bits) - 1
    val bucketRows: Seq[(Long, Long)] = df.select(col("vec_id"),
        SimilarityOps.lshBucket(col("embedding"), bits * tables).as("allbits"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val banded: Seq[(Long, (Int, Long))] = bucketRows.flatMap { case (id, allbits) =>
      (0 until tables).map(t => (id, (t, (allbits >>> (t * bits)) & mask))) }
    val bucketDepth: Map[(Int, Long), Int] =
      banded.groupBy(_._2).view.mapValues(_.size).toMap
    val surviving = banded.filter(r => bucketDepth(r._2) <= cap)
    val candidates: Set[(Long, Long)] =
      surviving.groupBy(_._2).values.toSeq.flatMap { members =>
        val ids = members.map(_._1)
        for { a <- ids; b <- ids if a != b } yield (a, b)
      }.toSet
    val vecs: Map[Long, Array[Float]] = rows.toMap
    def cosRef(a: Long, b: Long): Double = {
      val x = vecs(a); val y = vecs(b)
      val dot = x.toSeq.zip(y.toSeq)
        .map { case (p, q) => p.toDouble * q.toDouble }.sum
      dot / (math.sqrt(x.toSeq.map(p => p.toDouble * p).sum) *
        math.sqrt(y.toSeq.map(p => p.toDouble * p).sum))
    }
    val want: Set[(Long, Long)] =
      candidates.toSeq.groupBy(_._1).toSeq.flatMap { case (src, ps) =>
        ps.map { case (_, nb) => (nb, cosRef(src, nb)) }
          .sortBy { case (nb, c) => (-c, nb) }.take(3)
          .map { case (nb, _) => (src, nb) }
      }.toSet
    assert(capped == want,
      s"capped graph must equal the plain-Scala capped reference: " +
        s"extra=${capped diff want} missing=${want diff capped}")
  }

  // ---- fixture C: a boilerplate gram hot across every source

  test("sourceOverlap's df cap excludes a boilerplate gram planted into " +
      "every source: overlap counts equal the rare-gram reference") {
    // 4 sources x 10 docs; every doc carries the same boilerplate
    // 4-gram (df = 40 >> cap); sources A and B additionally share a
    // rare syndicated 4-gram (df = 2)
    val boiler = "common boiler plate gram"
    val synd = "rare syndicated shared gram"
    val docs: Seq[(Long, String, String)] =
      (0 until 40).map { i =>
        val src = s"s${i % 4}"
        val extra =
          if (i == 0 && src == "s0") s" $synd" // doc 0 in s0
          else if (i == 1 && src == "s1") s" $synd" // doc 1 in s1
          else ""
        (i.toLong, src, s"${filler(s"d$i", 5)} $boiler$extra")
      }
    val dir = tempDir("skew-src")
    docs.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.PipelineQueries.sourceOverlap(spark, dir)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // reference: per-doc distinct 4-gram STRINGS, df cap, pair counts
    def grams(t: String): Set[String] =
      t.split("\\s+").filter(_.nonEmpty).sliding(4).filter(_.length == 4)
        .map(_.mkString(" ")).toSet
    val perDoc = docs.map { case (_, src, t) => (src, grams(t)) }
    val dfCount = perDoc.flatMap(_._2.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val cap = graft.queries.PipelineQueries.SourceOverlapMaxDf
    val bySrc = perDoc.groupBy(_._1).view
      .mapValues(_.flatMap(_._2).filter(g => dfCount(g) <= cap).toSet).toMap
    val srcs = bySrc.keys.toSeq.sorted
    val want = (for {
      a <- srcs; b <- srcs if a < b
      n = bySrc(a).intersect(bySrc(b)).size if n > 0
    } yield (a, b) -> n.toLong).toMap
    assert(dfCount(boiler) > cap, "the boilerplate gram must exceed the cap")
    assert(got == want, s"got $got want $want")
    // the boilerplate gram contributed nothing: without the cap every
    // source pair would share it (6 pairs minimum); the planted
    // syndication is the only cross-source signal
    assert(got.keySet == Set(("s0", "s1")),
      s"only the syndicated pair may overlap in the rare-gram universe: $got")
  }
}
