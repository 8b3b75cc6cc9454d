package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Independent-Scala-recompute gates for the round-12 curation additions:
 * the Gopher rule battery, winnowing fingerprints, weighted sampling,
 * and PageRank. Each test rebuilds the expected result from the raw
 * parquet bytes with plain Scala collections — no Spark expressions
 * shared with the query under test — so a bug in a kernel or column
 * formula cannot cancel itself out.
 */
class CurationQueriesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def rawDocs(dir: String): Seq[(Long, String, Long)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

  private def words(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty)

  /** Top 60 bits of md5 — the portable cross-engine hash family. */
  private def md560(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var b = 0
    while (b < 8) { v = (v << 8) | (d(b) & 0xFFL); b += 1 }
    v >>> 4
  }

  test("qualityGopher emits the exact rule flags: every feature and " +
      "every verdict matches a plain-Scala recompute, and each rule " +
      "fires both ways at sf0.01 (no vacuous thresholds)") {
    val stops = graft.ops.TextAnalyticsOps.Stopwords.head._2.toSet
    val got = PipelineQueries.qualityGopher(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = rawDocs(sfDir)
    assert(got.size == docs.size)
    docs.foreach { case (id, text, _) =>
      val ws = words(text)
      val r = got(id)
      assert(r.getLong(1) == ws.length.toLong, s"n_words doc $id")
      val meanWlen = ws.map(_.length).sum.toDouble / ws.length
      val stopRatio = ws.count(stops).toDouble / ws.length
      val topFrac = ws.groupBy(identity).values.map(_.length).max.toDouble / ws.length
      assert(r.getDouble(2) == meanWlen, s"mean_wlen doc $id")
      assert(r.getDouble(3) == stopRatio, s"stop_ratio doc $id")
      assert(r.getDouble(4) == topFrac, s"top_frac doc $id")
      import PipelineQueries._
      val eWords = ws.length >= GopherMinWords && ws.length <= GopherMaxWords
      val eWlen = meanWlen >= GopherMinWlen && meanWlen <= GopherMaxWlen
      val eStop = stopRatio >= GopherMinStop
      val eRep = topFrac <= GopherMaxTopFrac
      assert(r.getBoolean(5) == eWords && r.getBoolean(6) == eWlen &&
        r.getBoolean(7) == eStop && r.getBoolean(8) == eRep,
        s"rule flags doc $id")
      assert(r.getBoolean(9) == (eWords && eWlen && eStop && eRep), s"keep doc $id")
    }
    // non-vacuity at the corpus the driver gates: a threshold no doc
    // ever fails (or always fails) filters nothing and tests nothing
    val big = PipelineQueries.qualityGopher(spark, "/root/testdata/sf0.01")
      .select("r_words", "r_wlen", "r_stop", "r_rep", "keep").collect()
    Seq(0, 1, 2, 3, 4).foreach { i =>
      val vals = big.map(_.getBoolean(i)).toSet
      assert(vals == Set(true, false), s"rule column $i is vacuous at sf0.01")
    }
  }

  /** Reference winnowing: the textbook per-window rightmost-min scan. */
  private def winnowRef(text: String): (Long, Set[(Int, Long)]) = {
    val k = PipelineQueries.WinnowK
    val w = PipelineQueries.WinnowW
    val ws = words(text)
    val grams = ws.sliding(k).filter(_.length == k).map(_.mkString(" ")).toArray
    val h40 = grams.map(g => md560(g) & ((1L << 40) - 1))
    val sel = scala.collection.mutable.Set.empty[(Int, Long)]
    if (h40.nonEmpty) {
      // one truncated window for short docs, else every full window
      val ends = if (h40.length < w) Seq(h40.length - 1) else (w - 1) until h40.length
      ends.foreach { e =>
        val lo = math.max(0, e - w + 1)
        var best = lo
        (lo to e).foreach { p => if (h40(p) <= h40(best)) best = p } // rightmost min
        sel += ((best, h40(best)))
      }
    }
    (grams.length.toLong, sel.toSet)
  }

  test("textWinnow selects exactly the rightmost-min fingerprint of " +
      "every window (per-doc n_fp and fp_sum equal the textbook scan) " +
      "and honors the coverage guarantee: every full window contains " +
      "a selected position") {
    val got = PipelineQueries.textWinnow(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val docs = rawDocs(sfDir)
    assert(got.size == docs.size)
    var fingerprinted = 0
    docs.foreach { case (id, text, _) =>
      val (nGrams, sel) = winnowRef(text)
      val (gGrams, gFp, gSum) = got(id)
      assert(gGrams == nGrams, s"n_grams doc $id")
      assert(gFp == sel.size.toLong, s"n_fp doc $id: got $gFp want ${sel.size}")
      assert(gSum == sel.toSeq.map(_._2).sum, s"fp_sum doc $id")
      if (sel.nonEmpty) fingerprinted += 1
      // guarantee: each full window has >= 1 selected position
      val w = PipelineQueries.WinnowW
      val positions = sel.map(_._1)
      if (nGrams >= w) ((w - 1) until nGrams.toInt).foreach { e =>
        assert(positions.exists(p => p >= e - w + 1 && p <= e),
          s"window ending at $e of doc $id uncovered")
      }
    }
    assert(fingerprinted > 0, "no document produced fingerprints")
  }

  test("winnowProjection (monotone-deque kernel) equals the relational " +
      "textWinnow row-for-row at sf0.01 — two independent formulations " +
      "of the rightmost-min rule cross-validate") {
    val dir = "/root/testdata/sf0.01"
    val rel = PipelineQueries.textWinnowRelational(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ker = PipelineQueries.winnowProjection(
      spark.read.parquet(s"$dir/documents.parquet"))
      .select("doc_id", "n_grams", "n_fp", "fp_sum").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(ker.size == rel.size)
    rel.foreach { case (id, v) =>
      assert(ker(id) == v, s"doc $id: kernel ${ker(id)} != relational $v")
    }
  }

  test("WinnowFingerprints kernel emits exactly the relational " +
      "selection's (pos, hash) pairs at sf0.01 — the full fingerprint " +
      "sets cross-validate, not just their rollup") {
    val dir = "/root/testdata/sf0.01"
    val rel = PipelineQueries.winnowSelection(
      spark.read.parquet(s"$dir/documents.parquet"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    val ker = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        explode(graft.functions.native.winnow_fingerprints(col("text"),
          PipelineQueries.WinnowK, PipelineQueries.WinnowW)).as("packed"))
      .select(col("doc_id"),
        (col("packed").bitwiseAND(lit((1L << 20) - 1))).as("sel_pos"),
        shiftright(col("packed"), 20).as("sel_h"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(ker.keySet == rel.keySet)
    rel.foreach { case (id, pairs) =>
      assert(ker(id) == pairs, s"doc $id fingerprint sets diverge")
    }
  }

  test("plan shapes: qualityGopher is a pure row-local projection " +
      "(ZERO exchanges) and winnowProjection adds none; the relational " +
      "textWinnow reuses its doc_id partitioning end-to-end (one hash " +
      "exchange past the fan-out)") {
    val g = PipelineQueries.qualityGopher(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!g.contains("Exchange"), "qualityGopher must not shuffle:\n" + g)
    val wp = PipelineQueries.winnowProjection(
      spark.read.parquet(s"$sfDir/documents.parquet"))
      .queryExecution.executedPlan.toString
    assert(!wp.contains("Exchange"), "winnowProjection must not shuffle:\n" + wp)
    // the REGISTERED textWinnow is the kernel form since r13: a pure
    // row-local projection — no hash exchange (the conditional FanOut
    // round-robin is load balancing for the narrow local scan, not a
    // data shuffle, and vanishes on wide scans)
    val wk = PipelineQueries.textWinnow(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!wk.contains("Exchange hashpartitioning"),
      "textWinnow (kernel) must not hash-shuffle:\n" + wk)
    // the relational cross-validation form keeps its bounded shape
    val wr = PipelineQueries.textWinnowRelational(spark, sfDir)
      .queryExecution.executedPlan.toString
    val hash = "Exchange hashpartitioning".r.findAllIn(wr).size
    assert(hash <= 2,
      s"textWinnowRelational should reuse the doc_id partitioning ($hash hash exchanges):\n" + wr)
  }

  test("dedupWinnow finds exactly the pairs sharing rare fingerprints: " +
      "a planted verbatim run is guaranteed-caught, unrelated docs are " +
      "not, and strong pairs agree with the minhash family at sf0.01") {
    import spark.implicits._
    // planted-run fixture in a scratch corpus dir: A and B share a
    // 24-word verbatim run inside different contexts; C is unrelated.
    // Winnowing's guarantee (any shared run of >= K+W-1 words yields a
    // shared fingerprint) makes (A, B) a certain candidate
    val run = (1 to 24).map(i => s"run$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $run omega psi"),
      (2L, s"uno dos tres cuatro $run fin"),
      (3L, (1 to 40).map(i => s"other$i").mkString(" ")))
    val dir = tempDir("winnow-fixture")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val pairs = PipelineQueries.dedupWinnow(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.contains((1L, 2L)), s"planted run missed: $pairs")
    assert(pairs.keySet == Set((1L, 2L)), s"phantom pairs: $pairs")
    // corpus-level: every output row honors id1 < id2 and the
    // threshold, and the STRONG winnow pairs (>= 8 shared rare
    // fingerprints) are minhash near-dups too — independent families
    // agreeing on the unambiguous duplicates
    val sfd = "/root/testdata/sf0.01"
    val wn = PipelineQueries.dedupWinnow(spark, sfd).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(wn.nonEmpty)
    wn.foreach { case (a, b, n) =>
      assert(a < b && n >= PipelineQueries.WinnowMinShared)
    }
    val mh = PipelineQueries.dedupMinhash(spark, sfd).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val strong = wn.filter(_._3 >= 8).map(t => (t._1, t._2))
    assert(strong.nonEmpty, "corpus should contain strong winnow pairs")
    strong.foreach { p =>
      assert(mh.contains(p), s"strong winnow pair $p not a minhash near-dup")
    }
  }

  test("dedupWinnow counts DISTINCT per-doc fingerprints: repetitive " +
      "text selecting one hash at many positions contributes it ONCE " +
      "to df and once per pair (no position cross-products)") {
    import spark.implicits._
    // Three sentinel runs of exactly K+W-1 words, each planted TWICE in
    // doc 1 and TWICE in doc 2 — so each run's fingerprint hash is
    // selected at >= 2 positions within each doc. Correct semantics:
    // each hash counts once per doc (df = 2, n_shared counts distinct
    // hashes); the per-position bug would inflate df toward 4 and
    // n_shared toward 4x per hash.
    val kw = PipelineQueries.WinnowK + PipelineQueries.WinnowW - 1
    val runs = Seq("s", "t", "u").map(p => (1 to kw).map(i => s"$p$i").mkString(" "))
    def filler(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    def doc(tag: String) =
      (runs ++ runs).zipWithIndex.map { case (r, i) => s"${filler(tag + i, 7)} $r" }
        .mkString(" ") + " " + filler(tag + "z", 7)
    val docs = Seq((1L, doc("a")), (2L, doc("b")), (3L, filler("c", 40)))
    val dir = tempDir("winnow-repeat")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // the fixture really exercises within-doc repetition
    val perDoc = docs.map { case (id, t) => id -> winnowRef(t)._2 }.toMap
    assert(perDoc(1L).groupBy(_._2).exists(_._2.size >= 2),
      "fixture must select some hash at >= 2 positions within doc 1")
    // reference: per-doc DISTINCT hashes -> doc-frequency cap -> pair
    // intersection counts (plain Scala sets, nothing shared with Spark)
    val sel = perDoc.view.mapValues(_.map(_._2)).toMap
    val df = sel.values.toSeq.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val rare = sel.view.mapValues(_.filter(h =>
      df(h) <= PipelineQueries.WinnowMaxDf)).toMap
    val ids = docs.map(_._1)
    val expected = (for {
      a <- ids; b <- ids if a < b
      n = (rare(a) & rare(b)).size if n >= PipelineQueries.WinnowMinShared
    } yield (a, b) -> n.toLong).toMap
    assert(expected.contains((1L, 2L)), s"fixture must produce the planted pair")
    val got = PipelineQueries.dedupWinnow(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == expected, s"got $got want $expected")
  }

  test("classifyTrain learns the exact quantized-GD fixed point: every " +
      "weight equals a plain-Scala full-batch descent and the model is " +
      "non-trivial (on this corpus the label is text-independent, so " +
      "the fixed point is the class prior)") {
    val dim = graft.functions.VectorMath.ClassifyDim.toInt
    val iters = PipelineQueries.TrainIters
    val got = PipelineQueries.classifyTrain(spark, sfDir).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(got.size == dim)
    // reference: the identical learner in plain Scala — same bucket
    // arithmetic (md5 prefix), same rational sigmoid, same micro
    // quantization, same update rule
    def bucket(w: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val prefix = ((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(2) & 0xffL)
      (prefix % dim).toInt
    }
    val docs = rawDocs(sfDir)
    val langs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val feats = docs.flatMap { case (id, text, _) =>
      val ws = words(text.toLowerCase)
      if (ws.isEmpty) None
      else Some((id, if (langs(id) == "en") 1 else 0, ws.length.toLong,
        ws.groupBy(bucket).view.mapValues(_.length.toLong).toMap))
    }
    val n = feats.size
    val w = Array.fill(dim)(0L)
    (1 to iters).foreach { _ =>
      val grads = Array.fill(dim)(0L)
      feats.foreach { case (_, y, nw, cs) =>
        val mm = cs.map { case (b, c) =>
          math.floor((w(b) * c).toDouble / nw).toLong }.sum
        val m = mm / 1000000.0
        val pd = (0.5 + m / (2.0 * (1.0 + math.abs(m)))) - y
        cs.foreach { case (b, c) =>
          grads(b) += math.floor(pd * c * 1000000.0 / nw).toLong }
      }
      (0 until dim).foreach(b =>
        w(b) -= math.floor(grads(b).toDouble / n).toLong)
    }
    (0 until dim).foreach { b =>
      assert(got(b) == w(b), s"bucket $b: got ${got(b)} want ${w(b)}")
    }
    // the synthetic corpus's lang label is INDEPENDENT of its text
    // (all langs share one vocabulary), so the correct fixed point is
    // the class prior — non-trivially negative weights (non-en is the
    // majority), not a separating model
    assert(w.exists(_ != 0L), "trained model must be non-trivial")
    assert(n > 0)
  }

  test("classifyTrain SEPARATES a corpus whose label truly depends on " +
      "the text: disjoint vocabularies train to sign-split weights and " +
      "100% margin accuracy") {
    import spark.implicits._
    // en docs draw words from one vocabulary, non-en from another —
    // the signal the driver corpus lacks (its lang label is
    // independent of text, see the fixed-point test above)
    val enV = (1 to 12).map(i => s"envocab$i")
    val xxV = (1 to 12).map(i => s"xxvocab$i")
    val docs = (0 until 40).map { i =>
      val v = if (i % 2 == 0) enV else xxV
      val text = (0 until 15).map(j => v((i + j * 3) % v.length)).mkString(" ")
      (i.toLong, text, if (i % 2 == 0) "en" else "xx")
    }
    val dir = tempDir("classify-train")
    docs.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val w = PipelineQueries.classifyTrain(spark, dir).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(w.values.exists(_ > 0L) && w.values.exists(_ < 0L),
      s"separable corpus must train sign-split weights: $w")
    // apply the learned model: every doc classifies correctly
    def bucket(word: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(word.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val prefix = ((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(2) & 0xffL)
      (prefix % graft.functions.VectorMath.ClassifyDim).toInt
    }
    docs.foreach { case (id, text, lang) =>
      val ws = text.split("\\s+").filter(_.nonEmpty)
      val mm = ws.groupBy(bucket).map { case (b, g) =>
        math.floor((w(b) * g.length).toDouble / ws.length).toLong }.sum
      assert((mm > 0L) == (lang == "en"),
        s"doc $id ($lang) misclassified with margin $mm")
    }
    // classifyEval reports the same separation as a DIAGONAL confusion
    val conf = PipelineQueries.classifyEval(spark, dir).collect()
      .map(r => (r.getLong(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    assert(conf == Map((1L, true) -> 20L, (0L, false) -> 20L),
      s"separable corpus must eval to a diagonal confusion: $conf")
  }

  test("classifyEval on the driver corpus reports the majority-class " +
      "fixed point honestly: every doc predicted non-en (the prior), " +
      "counts equal to the label split") {
    val conf = PipelineQueries.classifyEval(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    // the monitor's whole value: it EXPOSES that this trained model is
    // majority-class on a corpus whose label is text-independent
    assert(conf.keySet.forall(!_._2),
      s"text-independent labels must converge to the prior: $conf")
    val total = conf.values.sum
    val en = conf.getOrElse((1L, false), 0L)
    assert(total > 0 && en > 0 && en < total, s"both labels present: $conf")
  }

  test("sampleWeighted draws the exact Efraimidis-Spirakis top-N: the " +
      "selected set equals the reference key ranking, keys reproduce, " +
      "and exactly WeightedN rows return") {
    val got = PipelineQueries.sampleWeighted(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == PipelineQueries.WeightedN)
    val ref = rawDocs(sfDir).map { case (id, text, nChars) =>
      val u = (md560(text) + 1).toDouble / 1.152921504606846976e18
      val key = math.floor(math.log(u) / (nChars + 1).toDouble * 1000000.0).toLong
      (id, nChars, key)
    }.sortBy { case (id, _, key) => (-key, id) }.take(PipelineQueries.WeightedN)
    assert(got.sortBy(t => (-t._3, t._1)).toSeq == ref.toSeq)
    // length-proportional inclusion actually biases: the sampled docs
    // are longer on average than the corpus
    val corpusMean = rawDocs(sfDir).map(_._3).sum.toDouble / rawDocs(sfDir).size
    val sampleMean = got.map(_._2).sum.toDouble / got.length
    assert(sampleMean > corpusMean, s"sample mean $sampleMean <= corpus mean $corpusMean")
  }

  test("graphPagerank converges to the exact integer fixed point of " +
      "the damping recurrence: every node's rank equals a plain-Scala " +
      "edge-map iteration, and mass stays near the stationary total") {
    val got = AnalyticsQueries.graphPagerank(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_suppkey", "l_partkey").collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1)).distinct
    val edges = li ++ li.map { case (s, d) => (d, s) }
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    var ranks: Map[Long, Long] = outdeg.map { case (n, _) => n -> AnalyticsQueries.PrScale }
    (1 to AnalyticsQueries.PrIters).foreach { _ =>
      val contribs = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s, d) =>
        contribs(d) += math.floor(ranks(s).toDouble / outdeg(s)).toLong
      }
      ranks = contribs.map { case (n, c) =>
        n -> (150000L + math.floor(c * 85L / 100.0).toLong)
      }.toMap
    }
    assert(got.size == ranks.size, "node set mismatch")
    ranks.foreach { case (n, r) =>
      assert(got(n) == r, s"rank of node $n: got ${got(n)} want $r")
    }
    // every node keeps at least the damping floor; total mass is within
    // the floor-leak band of nodes * scale
    assert(got.values.forall(_ >= 150000L))
    val total = got.values.sum.toDouble
    val ideal = got.size.toDouble * AnalyticsQueries.PrScale
    assert(total > ideal * 0.9 && total < ideal * 1.01, s"mass drifted: $total vs $ideal")
  }

  test("tokenizer_compare: one scorecard row per family with the " +
      "structural invariants no single-family query can state") {
    val rows = PipelineQueries.tokenizerCompare(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7))).toMap
    assert(rows.keySet == Set("whitespace", "bpe", "wordpiece", "unigram"))
    // one shared corpus: identical word totals on every row
    assert(rows.values.map(_._1).toSet.size == 1, s"n_words differ: $rows")
    // whitespace is the fertility-1 anchor with zero UNKs
    val (_, wsTok, wsUnk, wsFert, wsUnkRate, _) = rows("whitespace")
    assert(rows("whitespace")._1 == wsTok && wsUnk == 0L &&
      wsFert == 1.0 && wsUnkRate == 0.0)
    // subword families segment FINER than words (fertility > 1) and so
    // cost fewer bytes per token than whitespace
    Seq("bpe", "wordpiece", "unigram").foreach { f =>
      assert(rows(f)._4 > 1.0, s"$f fertility must exceed 1: ${rows(f)}")
      assert(rows(f)._6 < rows("whitespace")._6,
        s"$f bytes/token must undercut whitespace: ${rows(f)}")
    }
    // the domain-shift augmentation keeps the UNK column non-vacuous:
    // wordpiece (the one family with an UNK symbol) must report hits
    assert(rows("wordpiece")._3 > 0L,
      s"wordpiece must surface [UNK] hits: ${rows("wordpiece")}")
    assert(rows("bpe")._3 == 0L && rows("unigram")._3 == 0L,
      "byte-level BPE and the unigram DP always segment")
  }
}
