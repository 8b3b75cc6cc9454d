package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "s0"),
    (2L, "the quick brown fox jumps over the lazy cat", "s0"), // near-dup of 1
    (3L, "the quick brown fox jumps over the lazy dog", "s0"), // exact dup of 1
    (4L, "completely different words appear in this one here", "s0"),
    (5L, "short text", "s1")).toDF("doc_id", "text", "source")

  test("exactGroups keeps min id and group size") {
    val m = DedupOps.exactGroups(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toMap
    assert(m(1L) == 2L) // docs 1 and 3
    assert(m.values.sum == 5L)
  }

  test("shingles builds distinct word n-grams; short text -> empty") {
    val sh = docs.filter($"doc_id" === 5L)
      .select(DedupOps.shingles(col("text"), 3)).as[Seq[String]].head()
    assert(sh.isEmpty)
    val sh1 = docs.filter($"doc_id" === 1L)
      .select(DedupOps.shingles(col("text"), 3)).as[Seq[String]].head()
    assert(sh1.head == "the quick brown" && sh1.size == 7)
  }

  test("ngramJaccardPairs finds exact and near dups above threshold") {
    val pairs = DedupOps.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      col("source"), 3, 0.5).as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 3L)) == 1.0) // exact dup
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0.5) // near dup
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngramContainmentPairs catches a doc EMBEDDED in a longer one " +
      "that symmetric Jaccard misses (the asymmetric contract)") {
    // doc 20 = doc 10 plus an unrelated tail of equal shingle mass:
    // containment(10 ⊆ 20) = 1.0 but Jaccard ≈ 0.5
    val emb = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta", "s0"),
      (20L, "alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa lambda mu nu xi omicron pi", "s0"),
      (30L, "rho sigma tau upsilon phi chi psi omega", "s0"))
      .toDF("doc_id", "text", "source")
    val cont = DedupOps.ngramContainmentPairs(emb, col("doc_id"),
      col("text"), col("source"), 3, 0.9)
      .as[(Long, Long, Double, Double)].collect()
    assert(cont.map(p => (p._1, p._2)).toSeq == Seq((10L, 20L)),
      s"exactly the embedded pair: ${cont.toSeq}")
    assert(cont.head._3 == 1.0, // cont1: ALL of doc 10 lies inside 20
      s"full containment expected: ${cont.head}")
    assert(cont.head._4 < 0.5, s"the wrapper is 2x+ bigger: ${cont.head}")
    // ...and the symmetric query at its own production threshold
    // does NOT surface it — the reason this operator exists
    val jac = DedupOps.ngramJaccardPairs(emb, col("doc_id"), col("text"),
      col("source"), 3, 0.8).as[(Long, Long, Double)].collect()
    assert(!jac.exists(p => p._1 == 10L && p._2 == 20L),
      s"Jaccard 0.8 must miss the embedding: ${jac.toSeq}")
  }

  test("minhashNearDups recovers the pairs exact jaccard finds (recall)") {
    val exact = DedupOps.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      col("source"), 3, 0.5).select("id1", "id2").as[(Long, Long)].collect().toSet
    val lsh = DedupOps.minhashNearDups(docs, col("doc_id"), col("text"), 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(lsh), s"LSH missed ${exact.diff(lsh)}")
  }

  test("simhashOf: identical texts same signature, near texts close in hamming") {
    val sigs = DedupOps.simhashOf(docs, col("doc_id"), col("text"))
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(3L))
    val hammingNear = java.lang.Long.bitCount(sigs(1L) ^ sigs(2L))
    val hammingFar = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(hammingNear < hammingFar)
  }

  test("simhashNearDups finds exact dup pair at hamming 0") {
    val pairs = DedupOps.simhashNearDups(docs, col("doc_id"), col("text"), 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)))
  }

  test("hammingNearDups64: exactly the brute-force pair set on a mixed " +
      "corpus, and EVERY <=6-bit perturbation is recovered (the C(8,2) " +
      "block-pair pigeonhole is lossless at the documented radius)") {
    // deterministic 64-bit hashes: a golden-ratio mix spreads bits
    def mix(i: Long): Long = {
      var z = i * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // 24 base hashes + for each a perturbation flipping d(i) bits at
    // deterministic positions (d sweeps 0..6, positions stride the
    // word so every block boundary is exercised)
    val base = (0L until 24L).map(i => i -> mix(i))
    val pert = base.map { case (i, h) =>
      val d = (i % 7).toInt // 0..6, all radii including the boundary
      val flips = (0 until d).map(k => (i * 11 + k * 13) % 64)
      (100L + i, flips.foldLeft(h)((acc, b) => acc ^ (1L << b)))
    }
    val corpus = base ++ pert
    val want = (for {
      (a, ha) <- corpus; (b, hb) <- corpus if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (a, b, d.toLong)).toSet
    assert(want.size >= 21, s"fixture degenerate: ${want.size} pairs")
    val got = DedupOps.hammingNearDups64(
        corpus.toDF("id", "h"), col("id"), col("h"), 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want,
      s"missing=${want -- got} extra=${got -- want}")
    // the lossless claim specifically: every planted (i, 100+i)
    // self-pair with d <= 6 is present (d(i) <= 6 always, so ALL)
    base.foreach { case (i, _) =>
      assert(got.exists(p => p._1 == i && p._2 == 100L + i),
        s"perturbed self-pair for base $i lost by banding")
    }
  }

  test("hammingNearDups64Aligned: exactly the brute-force SAME-POSITION " +
      "pair set (the pigeonhole per position), and cross-position " +
      "near-identical hashes NEVER pair — alignment is a join key") {
    def mix(i: Long): Long = {
      var z = i * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // per (object, position) hashes: objects 0..11 x positions 0..2;
    // object 100+i carries i's hashes perturbed by d(i) bits AT THE
    // SAME positions, and ALSO i's position-0 hash at position 1
    // (cross-position identical — must never become a candidate)
    val base = for (i <- 0L until 12L; p <- 0L until 3L)
      yield (i, p, mix(i * 31 + p))
    val pert = base.map { case (i, p, h) =>
      val d = (i % 7).toInt
      val flips = (0 until d).map(k => (i * 7 + p * 17 + k * 13) % 64)
      (100L + i, p, flips.foldLeft(h)((acc, b) => acc ^ (1L << b)))
    }
    val crossPos = (0L until 12L).map(i => (200L + i, 1L, mix(i * 31)))
    val corpus = base ++ pert ++ crossPos
    val want = (for {
      (a, pa, ha) <- corpus; (b, pb, hb) <- corpus
      if a < b && pa == pb
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (a, b, pa, d.toLong)).toSet
    val got = DedupOps.hammingNearDups64Aligned(
        corpus.toDF("id", "p", "h"), col("id"), col("p"), col("h"), 6)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // the alignment claim specifically: 200+i holds i's EXACT
    // position-0 hash at position 1 — identical bits, wrong position,
    // and the ONLY pairs it forms are same-position coincidences
    assert(!got.exists(p => p._2 >= 200L && p._3 == 0L),
      "a cross-position clone paired at position 0")
  }

  test("connectedComponents: multi-hop chains collapse, singletons survive") {
    // chain 0-1-2-3-4 (diameter 4 -> needs several propagation rounds),
    // separate pair 10-11, isolated 20
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id1", "id2")
    val nodes = (Seq(0L, 1L, 2L, 3L, 4L, 10L, 11L, 20L)).toDF("id")
    val want = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)
    // BOTH gate arms: the driver union-find (default) and the
    // distributed fixpoint (driverCap = 0) must land on the same map
    val got = DedupOps.connectedComponents(edges, nodes)
      .as[(Long, Long)].collect().toMap
    assert(got == want)
    val gotDist = DedupOps.connectedComponents(edges, nodes,
        driverCap = 0L)
      .as[(Long, Long)].collect().toMap
    assert(gotDist == want, "distributed arm diverged")
  }

  test("connectedComponents uses reliable checkpoints when a dir is set") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty) // suite-order guard: dir leaks to later suites
    val dir = java.nio.file.Paths.get(tempDir("cc-ckpt"))
    sc.setCheckpointDir(dir.toString)
    try {
      val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("id1", "id2")
      val nodes = Seq(0L, 1L, 2L, 3L, 9L).toDF("id")
      // driverCap = 0: this test pins the DISTRIBUTED loop's reliable
      // checkpoint + reclamation discipline, which the driver kernel
      // (no snapshots at all) would bypass
      val got = DedupOps.connectedComponents(edges, nodes, driverCap = 0L)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 9L -> 9L))
      // reliable RDD checkpoint files actually landed in the dir...
      val wrote = java.nio.file.Files.walk(dir).filter(_.toFile.isFile).count()
      assert(wrote > 0, "no checkpoint files written to reliable storage")
      // ...and stale per-iteration snapshots were reclaimed: only the
      // final label set (one rdd-N dir) may remain live — without the
      // eager delete this chain (4+ iterations) leaves 5+ of them
      val rddDirs = java.nio.file.Files.walk(dir)
        .filter(p => p.toFile.isDirectory && p.getFileName.toString.startsWith("rdd-"))
        .count()
      assert(rddDirs <= 1,
        s"$rddDirs iteration snapshots left in reliable storage, expected <= 1")
    } finally {
      // restore executor-local truncation for the rest of the JVM: the
      // public API has no unset, so reach the private field via
      // reflection — guarded, because the field name is an
      // implementation detail and a rename must not mask the real
      // assertion above or silently leak the dir into later suites
      try {
        val f = sc.getClass.getDeclaredField("checkpointDir")
        f.setAccessible(true)
        f.set(sc, None)
      } catch {
        case e: ReflectiveOperationException =>
          fail("could not reset SparkContext.checkpointDir via reflection " +
            s"(field renamed in this Spark version?): $e — later suites " +
            "would inherit a reliable checkpoint dir", e)
      }
    }
  }

  test("incrementalNearDupAdmit: history near-dups and smaller-id batch " +
      "peers reject; unique and shingle-less fresh docs admit") {
    val hist = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (4L, "completely different words appear in this one here"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // = hist 1
      (12L, "totally novel content nothing like the others at all"),
      (14L, "totally novel content nothing like the others at all yes"), // near-dup of 12 (smaller id wins)
      (16L, "so ws"), // < 3 words: no shingles -> admit
      (18L, "unique snowflake sentence that matches nothing else ever"))
      .toDF("doc_id", "text")
    val admitted = DedupOps.incrementalNearDupAdmit(fresh, hist,
      col("doc_id"), col("text"), threshold = 0.5)
      .as[Long].collect().toSet
    assert(admitted == Set(12L, 16L, 18L),
      s"expected {12,16,18}, got $admitted")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("unitDedup: global first-occurrence survivors + reconstruction") {
    val d = Seq(
      (1L, "a b c d e f g"),       // units [a b c][d e f][g] — all first
      (2L, "a b c x y z"),         // [a b c] dups doc1; [x y z] first
      (3L, ""),                    // zero units
      (4L, "x y z x y z x y z"),   // every unit dups (2,1) or earlier
      (5L, "g")).toDF("doc_id", "text") // single ragged unit, dups (1,2)
    val got = DedupOps.unitDedup(d, col("doc_id"), col("text"), 3)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((3L, 3L, 7L, md5hex("a b c d e f g"))))
    assert(got(2L) == ((2L, 1L, 3L, md5hex("x y z"))))
    assert(got(3L) == ((0L, 0L, 0L, md5hex(""))))
    assert(got(4L) == ((3L, 0L, 0L, md5hex(""))))
    assert(got(5L) == ((1L, 0L, 0L, md5hex(""))))
  }

  test("unitDedup: within-doc repeat drops at its second position") {
    // one doc: [p q r][p q r][s] -> unit 1 drops, units 0 and 2 survive
    val d = Seq((7L, "p q r p q r s")).toDF("doc_id", "text")
    val got = DedupOps.unitDedup(d, col("doc_id"), col("text"), 3)
      .as[(Long, Long, Long, Long, String)].head()
    assert(got == ((7L, 3L, 2L, 4L, md5hex("p q r s"))))
  }

  test("unitDedup: irregular whitespace normalizes before unit cut") {
    val d = Seq((1L, "a  b\tc d"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = DedupOps.unitDedup(d, col("doc_id"), col("text"), 4)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(got(1L) == md5hex("a b c d")) // doc1 survives (first)
    assert(got(2L) == md5hex(""))        // doc2 is the duplicate
  }

  test("gram_hashes keeps duplicates in gram order; short text -> empty") {
    val hs = Seq(("z z z z z", 1), ("p q r", 2)).toDF("text", "k")
      .select($"k", graft.functions.native.gram_hashes($"text", 4))
      .as[(Int, Seq[Long])].collect().toMap
    assert(hs(2).isEmpty) // 3 words < n
    assert(hs(1).size == 2 && hs(1)(0) == hs(1)(1)) // within-doc repeat kept
  }

  test("repeatedSpanStats: cross-doc + within-doc repeats, interval union") {
    val d = Seq(
      (1L, "a b c d e f"), // shares "a b c d" with 2 and 6, "b c d e" with 6
      (2L, "a b c d x y"),
      (3L, "z z z z z"), // within-doc repeat only
      (4L, "p q r"), // < n words -> zeros
      (5L, "m n o p q"), // no repeated grams
      (6L, "a b c d e a b c d e") // overlapping + disjoint spans merge
    ).toDF("doc_id", "text")
    val got = DedupOps.repeatedSpanStats(d, col("doc_id"), col("text"), n = 4)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // dup positions {0, 1}: [0..3] u [1..4] = 5 tokens
    assert(got(1L) == ((3L, 2L, 5L)))
    assert(got(2L) == ((3L, 1L, 4L)))
    // "z z z z" at pos 0 and 1: [0..3] u [1..4] = 5 tokens
    assert(got(3L) == ((2L, 2L, 5L)))
    assert(got(4L) == ((0L, 0L, 0L)))
    assert(got(5L) == ((2L, 0L, 0L)))
    // dup positions {0,1,5,6}: [0..4] u [5..9] = all 10 tokens
    assert(got(6L) == ((7L, 4L, 10L)))
  }

  /** Independent reference for [[DedupOps.maximalRepeatedSpans]]: brute
   *  force over gram strings in plain Scala (no hashing, no Spark). */
  private def refMaximalSpans(corpus: Seq[(Long, String)], n: Int,
      minLen: Int): Map[Long, (Long, Long, Long)] = {
    def words(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
    def grams(t: String) = {
      val w = words(t)
      if (w.size < n) Vector.empty
      else w.sliding(n).map(_.mkString(" ")).toVector
    }
    val counts = corpus.flatMap { case (_, t) => grams(t) }
      .groupBy(identity).view.mapValues(_.size).toMap
    corpus.map { case (id, t) =>
      val dupPos = grams(t).zipWithIndex.collect {
        case (g, p) if counts(g) > 1 => p }
      // maximal consecutive runs
      val runs = dupPos.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
        case (acc, p) => (p, p) :: acc
      }.map { case (s, e) => e - s + n }.filter(_ >= minLen)
      id -> ((runs.size.toLong,
        if (runs.isEmpty) 0L else runs.max.toLong, runs.sum.toLong))
    }.toMap
  }

  test("maximalRepeatedSpans: crafted runs qualify by token length; " +
      "isolated dup grams and short docs report zeros") {
    val n = 3
    val d = Seq(
      (1L, "a b c d e f g h"),      // shares the 6-token span "a b c d e f" with 2
      (2L, "x y a b c d e f q"),
      (3L, "p q r s t"),            // nothing repeated
      (4L, "u v w z1 z2 u v w"),    // isolated dup gram "u v w" (3 < minLen 5)
      (5L, "t u")                   // sub-n
    ).toDF("doc_id", "text")
    val texts = d.as[(Long, String)].collect().toSeq
    val want = refMaximalSpans(texts, n, minLen = 5)
    val got = DedupOps.maximalRepeatedSpans(d, col("doc_id"), col("text"),
      n = n, minLen = 5).as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == want, s"got $got want $want")
    // the fixture is non-vacuous both ways
    assert(got(1L)._1 == 1L && got(1L)._2 == 6L)
    assert(got(4L) == ((0L, 0L, 0L)), "isolated dup gram must not qualify")
    assert(got(5L) == ((0L, 0L, 0L)))
  }

  test("maximalRepeatedSpans matches the independent reference on a " +
      "seeded fuzz corpus (runs, overlaps, ragged whitespace)") {
    val rnd = new scala.util.Random(42)
    val alphabet = Vector("aa", "bb", "cc", "dd", "ee")
    val corpus = (0L until 60L).map { id =>
      val len = rnd.nextInt(14)
      val sep = if (rnd.nextBoolean()) " " else "  \t"
      id -> Seq.fill(len)(alphabet(rnd.nextInt(alphabet.size))).mkString(sep)
    }
    val n = 3
    val minLen = 2 * n
    val want = refMaximalSpans(corpus, n, minLen)
    val got = DedupOps.maximalRepeatedSpans(
      corpus.toDF("doc_id", "text"), col("doc_id"), col("text"), n, minLen)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == want)
    assert(want.values.exists(_._1 > 0), "fuzz corpus produced no spans")
  }

  /** Independent reference for [[DedupOps.removeRepeatedSpans]]: brute
   *  force with gram STRINGS as run fingerprints. */
  private def refRemoveSpans(corpus: Seq[(Long, String)], n: Int,
      minLen: Int): Map[Long, (Long, Long, String)] = {
    def words(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
    def grams(t: String) = {
      val w = words(t)
      if (w.size < n) Vector.empty
      else w.sliding(n).map(_.mkString(" ")).toVector
    }
    val counts = corpus.flatMap { case (_, t) => grams(t) }
      .groupBy(identity).view.mapValues(_.size).toMap
    // all qualifying runs across the corpus, with content fingerprints
    val runs = corpus.flatMap { case (id, t) =>
      val gs = grams(t)
      val dupPos = gs.zipWithIndex.collect { case (g, p) if counts(g) > 1 => p }
      dupPos.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
        case (acc, p) => (p, p) :: acc
      }.collect { case (p0, p1) if p1 - p0 + n >= minLen =>
        (id, p0, p1, gs.slice(p0, p1 + 1).mkString("|"))
      }
    }
    val removedIvs = runs.groupBy(_._4).values.flatMap { occ =>
      occ.toSeq.sortBy(r => (r._1, r._2)).drop(1)
        .map(r => (r._1, r._2, r._3 + n - 1))
    }.toSeq.groupBy(_._1)
    corpus.map { case (id, t) =>
      val w = words(t)
      val ivs = removedIvs.getOrElse(id, Nil).map(r => (r._2, r._3))
      val kept = w.zipWithIndex.collect {
        case (wd, i) if !ivs.exists(iv => i >= iv._1 && i <= iv._2) => wd }
      id -> ((w.size.toLong, (w.size - kept.size).toLong,
        md5hex(kept.mkString(" "))))
    }.toMap
  }

  test("removeRepeatedSpans: the non-first occurrence of a qualifying " +
      "span is cut and the doc reconstructs; untouched docs hash whole") {
    val n = 3
    val d = Seq(
      (1L, "a b c d e f g h"),      // first occurrence of "a b c d e f"
      (2L, "x y a b c d e f q"),    // second occurrence -> cut 6 tokens
      (3L, "p q r s t"),            // untouched
      (4L, "u v w z1 z2 u v w")     // isolated dup gram, below minLen
    ).toDF("doc_id", "text")
    val texts = d.as[(Long, String)].collect().toSeq
    val want = refRemoveSpans(texts, n, minLen = 5)
    val got = DedupOps.removeRepeatedSpans(d, col("doc_id"), col("text"),
      n = n, minLen = 5).as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == want, s"got $got want $want")
    assert(got(1L) == ((8L, 0L, md5hex("a b c d e f g h"))),
      "the FIRST occurrence must survive whole")
    assert(got(2L) == ((9L, 6L, md5hex("x y q"))),
      "the second occurrence must lose exactly the span tokens")
    assert(got(4L)._2 == 0L, "sub-minLen repeats must not be cut")
  }

  test("removeRepeatedSpans matches the independent reference on the " +
      "seeded fuzz corpus (overlapping cuts, whole-doc removals)") {
    val rnd = new scala.util.Random(42)
    // wide alphabet: incidental gram repeats stay rare, so qualifying
    // same-CONTENT spans come from the injected shared passages below
    // (a tiny alphabet chains incidental dups onto passage boundaries,
    // splitting fingerprints — real corpora look like this one)
    val alphabet = (0 until 40).map(i => f"w$i%02d").toVector
    val passages = Vector(
      Seq.fill(8)(alphabet(rnd.nextInt(alphabet.size))),
      Seq.fill(6)(alphabet(rnd.nextInt(alphabet.size))))
    val corpus = (0L until 60L).map { id =>
      val base = Seq.fill(rnd.nextInt(14))(alphabet(rnd.nextInt(alphabet.size)))
      // ~half the docs get a shared passage spliced at a random offset
      val withPassage =
        if (rnd.nextBoolean()) {
          val p = passages(rnd.nextInt(passages.size))
          val cut = if (base.isEmpty) 0 else rnd.nextInt(base.size)
          base.take(cut) ++ p ++ base.drop(cut)
        } else base
      val sep = if (rnd.nextBoolean()) " " else "  \t"
      id -> withPassage.mkString(sep)
    }
    val n = 3
    val minLen = 2 * n
    val want = refRemoveSpans(corpus, n, minLen)
    val got = DedupOps.removeRepeatedSpans(
      corpus.toDF("doc_id", "text"), col("doc_id"), col("text"), n, minLen)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == want)
    assert(want.values.exists(_._2 > 0), "fuzz corpus removed nothing")
    assert(want.values.exists(v => v._2 == 0 && v._1 > 0),
      "fuzz corpus must also leave some docs untouched")
  }

  test("LshBandCollide kernel == the batch band-key pipeline, per band " +
      "(collide counts vs corpusBandKeys; shingle-less docs -> (0,0))") {
    val hist = docs // the suite fixture is the history corpus
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // = hist 1: collides
      (11L, "totally novel content nothing like the others at all"),
      (12L, "so ws")).toDF("doc_id", "text") // no shingles
    val keys = DedupOps.corpusBandKeys(hist, col("doc_id"), col("text"))
      .as[Long].collect().sorted
    val bc = spark.sparkContext.broadcast(keys)
    val kernel = fresh.select($"doc_id",
      graft.functions.native.lsh_band_collide($"text", 3, 64, 16, bc).as("st"))
      .select($"doc_id", $"st.n_bands", $"st.n_collide")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // batch: the same combined keys via the column pipeline
    val keysDf = keys.toSeq.toDF("bk")
    val batch = DedupOps.minhashSignatures(fresh, col("doc_id"), col("text"))
      .select(col("id"), posexplode(DedupOps.lshBandHashes(col("sig"))))
      .toDF("id", "band", "bh")
      .select(col("id"), xxhash64(col("band"), col("bh")).as("bk"))
      .join(keysDf, Seq("bk"))
      .groupBy("id").count()
      .as[(Long, Long)].collect().toMap
    assert(kernel(10L) == ((16L, batch(10L))) && batch(10L) == 16L,
      s"verbatim history doc must collide on every band: $kernel")
    assert(kernel(11L) == ((16L, batch.getOrElse(11L, 0L))),
      s"novel doc collide count must match batch: $kernel")
    assert(kernel(12L) == ((0L, 0L)), "shingle-less doc has no bands")
  }

  test("bandCollideAdmit: history collisions reject, novel and " +
      "shingle-less docs admit") {
    val hist = docs
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // verbatim
      (11L, "the quick brown fox jumps over the lazy emu"), // near-dup
      (12L, "totally novel content nothing like the others at all"),
      (13L, "so ws")).toDF("doc_id", "text")
    val admitted = DedupOps.bandCollideAdmit(fresh, hist,
      col("doc_id"), col("text")).as[Long].collect().toSet
    assert(!admitted.contains(10L), "verbatim history doc must reject")
    assert(!admitted.contains(11L), "near-dup (shared bands) must reject")
    assert(admitted.contains(12L) && admitted.contains(13L),
      s"novel + shingle-less must admit: $admitted")
  }

  test("dedupEval measures a REAL recall curve: on a planted mid-Jaccard " +
      "corpus the banding catches some but not all true pairs, recall is " +
      "non-decreasing in the band, and the driver corpus splits 0 vs 1") {
    import graft.queries.PipelineQueries
    // planted mid-J pairs: each pair shares a 22-word prefix and differs
    // in an 8-word tail, giving J ~ 0.55 — the regime where a 4x4
    // banding probabilistically misses (P(caught) = 1-(1-J^4)^4 ~ 0.3)
    def half(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = (0 until 30).flatMap { p =>
      val shared = half(s"sh$p", 22)
      Seq((p * 2L, s"$shared ${half(s"a$p", 8)}"),
        (p * 2L + 1, s"$shared ${half(s"b$p", 8)}"))
    }
    val dir = tempDir("dedup-eval")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val mid = PipelineQueries.dedupEval(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (pairs, caught) = mid.values.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    // anchor sampling keeps pairs whose smaller id % EvalAnchorMod == 0:
    // planted pair p has smaller id 2p, so every even p survives — 15
    assert(pairs >= 15L, s"anchored planted pairs must be evaluated: $mid")
    assert(caught > 0L && caught < pairs,
      s"mid-J banding must catch SOME but not ALL pairs: $mid")
    // the driver corpus: bimodal — band 0 noise rejected, band 4 caught
    val drv = PipelineQueries.dedupEval(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(drv.contains(0L) && drv.contains(4L))
    assert(drv(0L)._2 == 0L && drv(0L)._1 > 0L,
      "incidental low-J pairs must not be candidates")
    assert(drv(4L)._1 == drv(4L)._2 && drv(4L)._1 > 0L,
      "true near-dups must all be caught")
    // recall non-decreasing in band wherever bands exist
    val recalls = (mid ++ drv).toSeq.sortBy(_._1)
      .map { case (b, (p, c)) => b -> c.toDouble / p }
    recalls.sliding(2).foreach {
      case Seq((b1, r1), (b2, r2)) if b1 != b2 =>
        assert(r2 >= r1 - 0.34, s"recall should trend up with J: $recalls")
      case _ => ()
    }
  }

  test("incrementalClusterAssign equals the full union recompute on " +
      "the planted shapes: batch docs adopting a cluster, a batch-only " +
      "chain, singletons, untouched history") {
    def filler(tag: String, n: Int): String =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    def near(base: String, tail: String): String = s"$base $tail"
    val c1 = filler("alpha", 24) // history cluster {10, 11}
    val c2 = filler("beta", 24) // history cluster {20, 21}
    val c3 = filler("gamma", 24) // history cluster {30, 31}, untouched
    val hist = Seq(
      (10L, near(c1, "ha hb")), (11L, near(c1, "hc hd")),
      (20L, near(c2, "he hf")), (21L, near(c2, "hg hh")),
      (30L, near(c3, "hi hj")), (31L, near(c3, "hk hl")),
      (40L, filler("histsolo", 20)))
    val bridge = filler("bridge", 24)
    val freshAll = Seq(
      (100L, near(c1, "fa fb")), // adopts cluster 10
      (105L, near(c1, "fm fn")), // adopts cluster 10
      (106L, near(c1, "fo fp")), // adopts cluster 10 (also ~105)
      (110L, near(bridge, "fg fh")), (111L, near(bridge, "fi fj")), // batch-only cluster
      (120L, filler("freshsolo", 20))) // singleton
    val union = hist ++ freshAll
    val histDf = hist.toDF("doc_id", "text")
    val freshDf = freshAll.toDF("doc_id", "text")
    val unionDf = union.toDF("doc_id", "text")
    val histPairs = DedupOps.minhashNearDups(histDf, col("doc_id"), col("text"),
      threshold = 0.5).select("id1", "id2")
    val histClusters = DedupOps.connectedComponents(histPairs,
      histDf.select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("cluster"))
    // precondition: c1/c2/c3 are separate history clusters
    val hc = histClusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hc(10L) == 10L && hc(11L) == 10L)
    assert(hc(20L) == 20L && hc(21L) == 20L)
    assert(hc(30L) == 30L && hc(31L) == 30L && hc(40L) == 40L)
    val got = DedupOps.incrementalClusterAssign(freshDf, histDf, histClusters,
      col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = DedupOps.connectedComponents(
      DedupOps.minhashNearDups(unionDf, col("doc_id"), col("text"),
        threshold = 0.5).select("id1", "id2"),
      unionDf.select(col("doc_id").as("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"incremental must equal full recompute:\n" +
      s"  only-incremental: ${got.toSet diff want.toSet}\n" +
      s"  only-full:        ${want.toSet diff got.toSet}")
    // the shapes genuinely occurred: adoption...
    assert(got(100L) == 10L && got(105L) == 10L && got(106L) == 10L)
    // ...batch-only cluster with a batch min label...
    assert(got(110L) == 110L && got(111L) == 110L)
    // ...singletons and untouched history
    assert(got(120L) == 120L && got(40L) == 40L)
    assert(got(30L) == 30L && got(31L) == 30L)
  }

  test("dedupClustersIncremental registered query (history " +
      "bands/shingles snapshotted once — the Pre form) equals the " +
      "in-plan incrementalClusterAssign overload on every run") {
    import graft.queries.PipelineQueries
    val sfd = "/root/testdata/sf0.001"
    val docs = graft.model.Tables.documents(spark, sfd)
      .select(col("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val histClusters = DedupOps.connectedComponents(
      DedupOps.minhashNearDups(hist, col("doc_id"), col("text"),
        threshold = 0.5).select("id1", "id2"),
      hist.select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("cluster"))
    val want = DedupOps.incrementalClusterAssign(fresh, hist,
      histClusters, col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def run() = PipelineQueries.dedupClustersIncremental(spark, sfd)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got1 = run()
    val got2 = run() // determinism: a second run recomputes the same rows
    assert(got1 == want, s"Pre form diverged: " +
      s"${(got1.toSet diff want.toSet).take(3)} / " +
      s"${(want.toSet diff got1.toSet).take(3)}")
    assert(got2 == want, "second run diverged")
  }

  test("incrementalClusterAssign merges two separate history clusters " +
      "through a batch doc and relabels BOTH to the union minimum") {
    def filler(tag: String, n: Int): String =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    // overlap-segment topology: X = A++C and Y = C++B share only the
    // middle segment (J(X,Y) = 22/70 ≈ 0.31 < 0.5 — separate history
    // clusters), while the merger Z = A++C++B CONTAINS each as a
    // prefix/suffix (J(Z,X) = J(Z,Y) = 46/70 ≈ 0.66 >= 0.5 — verified
    // near-dup of both, comfortably inside the b=16/r=4 banding
    // S-curve, unlike a disjoint-halves merger whose J ceiling of 0.5
    // sits exactly at the collision coin-flip midpoint)
    val a = filler("alpha", 24) // 24 words -> 22 internal 3-shingles
    val cMid = filler("mid", 24)
    val b = filler("beta", 24)
    val x = s"$a $cMid"
    val y = s"$cMid $b"
    val hist = Seq(
      (10L, x), (11L, s"$x hc hd"),
      (20L, y), (21L, s"$y hg hh"))
    // control doc 102 shares only sub-threshold slices with everything
    // (J <= 0.31 to Z, less to the rest) and must stay a singleton
    val mixBody = (a.split(" ").take(13) ++ b.split(" ").take(13))
      .mkString(" ")
    val fresh = Seq((100L, s"$a $cMid $b"), (102L, mixBody))
    val thr = 0.5
    val histDf = hist.toDF("doc_id", "text")
    val freshDf = fresh.toDF("doc_id", "text")
    val unionDf = (hist ++ fresh).toDF("doc_id", "text")
    val histClusters = DedupOps.connectedComponents(
      DedupOps.minhashNearDups(histDf, col("doc_id"), col("text"), thr)
        .select("id1", "id2"),
      histDf.select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("cluster"))
    val hc = histClusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hc == Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L),
      s"precondition: two separate history clusters, got $hc")
    val got = DedupOps.incrementalClusterAssign(freshDf, histDf, histClusters,
      col("doc_id"), col("text"), threshold = thr)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = DedupOps.connectedComponents(
      DedupOps.minhashNearDups(unionDf, col("doc_id"), col("text"), thr)
        .select("id1", "id2"),
      unionDf.select(col("doc_id").as("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"incremental must equal full recompute: got $got want $want")
    // the merge genuinely happened and relabeled the c2 cluster...
    assert(got(100L) == 10L && got(20L) == 10L && got(21L) == 10L,
      s"history clusters must merge to the union minimum: $got")
    // ...and the half-mix control stayed out
    assert(got(102L) == 102L, s"no false merge from sub-threshold overlap: $got")
  }
}
