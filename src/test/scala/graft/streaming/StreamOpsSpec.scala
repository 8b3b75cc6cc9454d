package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec
import graft.model.AdsbPosition
import graft.ops.TextOps

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ckpt() = tempDir("graft-ckpt")

  test("runningCount under update mode matches WordCount per-trigger totals") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val words = TextOps.splitWords(in.toDF().toDF("sentence"), col("sentence"))
    val q = StreamOps.toMemory(
      StreamOps.runningCount(words, col("word"), "word"),
      "wc_test", OutputMode.Update, ckpt())
    try {
      in.addData("a b a", "c")
      q.processAllAvailable()
      val afterBatch1 = spark.table("wc_test").as[(String, Long)].collect().toMap
      assert(afterBatch1 == Map("a" -> 2L, "b" -> 1L, "c" -> 1L))

      in.addData("a c c")
      q.processAllAvailable()
      // update mode re-emits only changed keys; latest row per key wins
      val latest = spark.table("wc_test").groupBy("word")
        .agg(max("cnt").as("cnt")).as[(String, Long)].collect().toMap
      assert(latest == Map("a" -> 3L, "b" -> 1L, "c" -> 3L))
    } finally q.stop()
  }

  test("slidingCount: watermarked sliding windows count per hop") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "word")
    val q = StreamOps.toMemory(
      StreamOps.slidingCount(df, "ts", col("word"), "word",
        "2 hours", "1 hour", "10 minutes"),
      "sc_test", OutputMode.Update, ckpt())
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:30:00"), "x"),
        (Timestamp.valueOf("2024-01-01 10:40:00"), "x"),
        (Timestamp.valueOf("2024-01-01 11:10:00"), "x"))
      q.processAllAvailable()
      val out = spark.table("sc_test")
        .select(date_format(col("w_start"), "HH:mm").as("w"), col("cnt"))
        .as[(String, Long)].collect().toMap
      assert(out == Map("09:00" -> 2L, "10:00" -> 3L, "11:00" -> 1L))
    } finally q.stop()
  }

  test("checkpointed restart resumes running count exactly-once (Trident semantics)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val counts = StreamOps.runningCount(
      TextOps.splitWords(in.toDF().toDF("sentence"), col("sentence")),
      col("word"), "word")
    val checkpoint = ckpt()
    val seen = scala.collection.concurrent.TrieMap[String, Long]()
    def start() = counts.writeStream.outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.as[(String, Long)].collect().foreach { case (w, c) => seen(w) = c }
      }.start() // memory sink can't recover from checkpoints; foreachBatch can
    val q1 = start()
    try {
      in.addData("a a b")
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the same checkpoint: state must resume, not recount
    val q2 = start()
    try {
      in.addData("a")
      q2.processAllAvailable()
      assert(seen("a") == 3L) // 2 before restart + 1 after, counted once
    } finally q2.stop()
  }

  test("checkpointed restart resumes the funnel state machine " +
      "exactly-once: an advance taken before the kill cannot repeat, " +
      "and the stage chain continues from the persisted (stage, t0)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val in = MemoryStream[(Long, String, Long)]
    val funnel = StreamOps.funnelStream(
      in.toDF().toDF("user_id", "event_type", "us")
        .select(col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts")))
    val checkpoint = ckpt()
    val seen = scala.collection.concurrent.TrieMap[(Long, Int), Long]()
    def start() = funnel.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("user_id", "stage").collect().foreach { r =>
          val k = (r.getLong(0), r.getInt(1))
          seen(k) = seen.getOrElse(k, 0L) + 1
        }
      }.start()
    val h = 3600L * 1000000L
    val q1 = start()
    try {
      in.addData((7L, "view", h), (7L, "click", 2 * h))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen((7L, 1)) == 1L && seen((7L, 2)) == 1L)
    val q2 = start()
    try {
      // a second view/click must NOT re-advance (state resumed, not
      // reset); the purchase within the click's window must advance
      in.addData((7L, "view", 3 * h), (7L, "click", 4 * h),
        (7L, "purchase", 5 * h))
      q2.processAllAvailable()
      assert(seen((7L, 1)) == 1L, "stage 1 re-advanced after restart")
      assert(seen((7L, 2)) == 1L, "stage 2 re-advanced after restart")
      assert(seen((7L, 3)) == 1L, "stage 3 must advance exactly once")
    } finally q2.stop()
  }

  test("session_window works under streaming with watermark (sessionize)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val sessions = in.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("s_start"), col("user_id"), col("n_events"))
    // session aggregation streams in APPEND mode only: sessions emit once
    // the watermark passes their end
    val q = StreamOps.toMemory(sessions, "sess_test", OutputMode.Append, ckpt())
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
        (Timestamp.valueOf("2024-01-01 10:20:00"), 1L), // same session
        (Timestamp.valueOf("2024-01-01 11:30:00"), 1L)) // gap > 30m -> new
      q.processAllAvailable()
      // push the watermark (1h delay) past both session ends, then flush
      in.addData((Timestamp.valueOf("2024-01-01 14:00:00"), 2L))
      q.processAllAvailable()
      in.addData((Timestamp.valueOf("2024-01-01 15:00:00"), 2L))
      q.processAllAvailable()
      val out = spark.table("sess_test").filter(col("user_id") === 1L)
        .select(date_format(col("s_start"), "HH:mm").as("s"), col("n_events"))
        .as[(String, Long)].collect().toMap
      assert(out == Map("10:00" -> 2L, "11:30" -> 1L))
    } finally q.stop()
  }

  test("streamingDedup: first occurrence passes, duplicates drop across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "text")
    val deduped = StreamOps.streamingDedup(df, "ts",
      graft.ops.TextAnalyticsOps.fingerprint(col("text")), "1 hour")
    val q = StreamOps.toMemory(deduped, "dedup_test", OutputMode.Append, ckpt())
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), "Doc One"),
        (Timestamp.valueOf("2024-01-01 10:01:00"), "doc  one"), // fp-dup
        (Timestamp.valueOf("2024-01-01 10:02:00"), "doc two"))
      q.processAllAvailable()
      in.addData((Timestamp.valueOf("2024-01-01 10:03:00"), "DOC ONE")) // cross-batch dup
      q.processAllAvailable()
      val texts = spark.table("dedup_test").select("text").as[String].collect().toSet
      assert(texts == Set("Doc One", "doc two"))
    } finally q.stop()
  }

  test("streamingDedup survives a checkpointed restart: a fingerprint " +
      "seen before the kill still drops its duplicate after — the seen " +
      "set is state, not memory") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val deduped = StreamOps.streamingDedup(in.toDF().toDF("ts", "text"), "ts",
      graft.ops.TextAnalyticsOps.fingerprint(col("text")), "1 hour")
    val checkpoint = ckpt()
    val seen = scala.collection.concurrent.TrieMap[String, Long]()
    def start() = deduped.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("text").as[String].collect().foreach { t =>
          seen(t) = seen.getOrElse(t, 0L) + 1
        }
      }.start()
    val q1 = start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), "doc one"),
        (Timestamp.valueOf("2024-01-01 10:01:00"), "doc two"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:02:00"), "DOC ONE"), // dup across restart
        (Timestamp.valueOf("2024-01-01 10:03:00"), "doc three"))
      q2.processAllAvailable()
      assert(seen.toMap == Map("doc one" -> 1L, "doc two" -> 1L,
        "doc three" -> 1L),
        s"pre-restart fingerprints must still deduplicate: $seen")
    } finally q2.stop()
  }

  test("runningCountTtl counts while active, evicts after watermark + ttl") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamOps.toMemory(
      StreamOps.runningCountTtl(in.toDF().toDF("ts", "word"), "ts",
        col("word"), ttlMs = 10 * 60 * 1000L),
      "rc_ttl_test", OutputMode.Update, ckpt())
    def at(s: String) = Timestamp.valueOf(s)
    try {
      in.addData((at("2024-01-01 10:00:00"), "a"), (at("2024-01-01 10:00:00"), "b"),
        (at("2024-01-01 10:00:00"), "b"))
      q.processAllAvailable() // a=1, b=2; watermark -> 10:00
      in.addData((at("2024-01-01 11:00:00"), "a"))
      q.processAllAvailable() // a=2; watermark -> 11:00 (> b's 10:10 timeout)
      in.addData((at("2024-01-01 12:00:00"), "x"))
      q.processAllAvailable() // b evicted this batch (no data for b)
      in.addData((at("2024-01-01 12:01:00"), "b"))
      q.processAllAvailable() // b restarts from zero
      val out = spark.table("rc_ttl_test").as[(String, Long)].collect()
      val bCounts = out.filter(_._1 == "b").map(_._2).toSet
      assert(bCounts == Set(2L, 1L), s"b was not evicted+restarted: $bCounts")
      assert(out.filter(_._1 == "a").map(_._2).max == 2L)
    } finally q.stop()
  }

  test("decontaminateStream: flagged docs and per-doc hit counts match " +
      "the batch decontaminate query exactly (stateless broadcast gate)") {
    import graft.queries.PipelineQueries
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val h = PipelineQueries.DecontHoldout
    val bench = docs.filter(col("doc_id") % h === 0).select("text")
    val training = docs.filter(col("doc_id") % h =!= 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.toMemory(
      StreamOps.decontaminateStream(in.toDF().toDF("doc_id", "text"),
        bench, PipelineQueries.DecontN),
      "decont_test", OutputMode.Append, ckpt())
    try {
      // two batches: the gate is stateless, so chunking must not matter
      val (a, b) = training.splitAt(training.length / 2)
      in.addData(a.toIndexedSeq); q.processAllAvailable()
      in.addData(b.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("decont_test").select("doc_id", "n_hits")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = PipelineQueries.decontaminate(spark, sfDir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(expected.nonEmpty && got == expected)
    } finally q.stop()
  }

  test("mixSampleStream: kept set matches the batch mix_sample exactly; " +
      "unknown sources pass the gate whole") {
    import graft.queries.PipelineQueries
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val rows = corpus.select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val in = MemoryStream[(Long, String, String)]
    val q = StreamOps.toMemory(
      StreamOps.mixSampleGate(in.toDF().toDF("doc_id", "source", "text"),
        StreamOps.mixThresholdEntries(corpus)),
      "mix_sample_test", OutputMode.Append, ckpt())
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      in.addData(a.toIndexedSeq); q.processAllAvailable()
      // a source absent from the learned mixture keeps everything
      in.addData(Seq((9999L, "brand_new_source", "anything at all")))
      in.addData(b.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("mix_sample_test")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val expected = PipelineQueries.mixSample(spark, sfDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(expected.nonEmpty && got == expected + 9999L)
    } finally q.stop()
  }

  test("corpusReportStream: each Complete snapshot equals the shared " +
      "batch rollup over everything seen") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, String, String)]
    val q = StreamOps.toMemory(
      StreamOps.corpusReportStream(in.toDF().toDF("source", "lang", "text")),
      "corpus_report_test", OutputMode.Complete, ckpt())
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("q_micro_sum"),
        r.getAs[Long]("n_lang_mismatch"), r.getAs[Long]("n_keep"))
    val batch1 = Seq(("s1", "en", "the cat and the dog sat"),
      ("s2", "es", "el gato y la perra"), ("s1", "de", "xyzzy qwfp words"))
    val batch2 = Seq(("s2", "en", "quick brown fox jumps"),
      ("s3", "fr", "le chien est dans le jardin"), ("s1", "en", ""))
    def check(all: Seq[(String, String, String)]): Unit = {
      val expected = graft.queries.PipelineQueries.corpusReportAgg(
        all.toDF("source", "lang", "text")).collect().map(key).toSet
      val got = spark.table("corpus_report_test").collect().map(key).toSet
      assert(got == expected)
    }
    try {
      in.addData(batch1: _*); q.processAllAvailable(); check(batch1)
      in.addData(batch2: _*); q.processAllAvailable(); check(batch1 ++ batch2)
    } finally q.stop()
  }

  test("langIdEvalStream: each Complete snapshot equals the batch " +
      "confusion counts over everything seen") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val q = StreamOps.toMemory(
      StreamOps.langIdEvalStream(in.toDF().toDF("lang", "text")),
      "langid_eval_test", OutputMode.Complete, ckpt())
    def expectedOver(rows: Seq[(String, String)]) = rows
      .groupBy { case (lang, text) =>
        // independent prediction: the suite's own stopword argmax
        val ws = text.split("\\s+").filter(_.nonEmpty)
        val scores = graft.functions.VectorMath.Stopwords.map {
          case (l, stops) => l -> ws.count(stops.contains) }
        val best = scores.filter(_._2 > 0)
        (lang, if (best.isEmpty) "und"
        else best.minBy { case (l, c) =>
          (-c, scores.indexWhere(_._1 == l)) }._1)
      }.view.mapValues(_.size.toLong).toMap
    try {
      val a = Seq(("en", "the cat and the dog"), ("es", "the cat runs"),
        ("fr", "le chat est la"), ("de", "zzz qqq"))
      in.addData(a.toIndexedSeq); q.processAllAvailable()
      val got1 = spark.table("langid_eval_test")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got1 == expectedOver(a))
      val b = Seq(("en", "el perro y la casa"), ("es", "el perro y la casa"))
      in.addData(b.toIndexedSeq); q.processAllAvailable()
      val got2 = spark.table("langid_eval_test")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got2 == expectedOver(a ++ b))
      // off-diagonal mass exists (the monitor's alert cell is real)
      assert(got2.keys.exists { case (l, p) => l != p })
    } finally q.stop()
  }

  test("outlierGateStream: admitted vectors and own-centroid scores " +
      "equal the batch embed_outliers cut exactly") {
    import graft.queries.PipelineQueries
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val rows = corpus.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val batch = PipelineQueries.embedOutliers(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2),
        r.getBoolean(3)))).toMap
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.toMemory(
      StreamOps.outlierGateStream(
        in.toDF().toDF("vec_id", "embedding"), corpus,
        k = PipelineQueries.KmCells, iters = PipelineQueries.KmIters,
        threshold = PipelineQueries.OutlierCos),
      "outlier_gate_test", OutputMode.Append, ckpt())
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      in.addData(a.toIndexedSeq); q.processAllAvailable()
      in.addData(b.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("outlier_gate_test")
        .select("vec_id", "cell", "cos_r").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
      val admitted = batch.filter(!_._2._3)
      assert(got.keySet == admitted.keySet,
        "live admit set must equal the batch non-outliers")
      got.foreach { case (id, (cell, cos)) =>
        assert((cell, cos) == ((admitted(id)._1, admitted(id)._2)),
          s"cell/score drift for vec $id") }
      assert(batch.values.exists(_._3) && admitted.nonEmpty,
        "fixture must exercise both branches")
    } finally q.stop()
  }

  test("bigramScoreStream refuses a model past the entry cap, naming " +
      "the distributed batch alternative; at the cap it builds") {
    implicit val sqlCtx = spark.sqlContext
    // 5 distinct bigrams: (a,b) (b,c) (c,d) (c,a) (a,d)
    val corpus = Seq("a b c d", "b c a d").toDF("text")
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val docs = in.toDF().toDF("ts", "text")
    val e = intercept[IllegalArgumentException] {
      StreamOps.bigramScoreStream(docs, corpus, driverCap = 4)
    }
    assert(e.getMessage.contains("textBigramNll"),
      s"refusal must point at the batch join form: ${e.getMessage}")
    assert(e.getMessage.contains("lm_bigram model exceeds its driver " +
      "cap of 4 rows"), s"refusal must name the site and the cap: ${e.getMessage}")
    // the cap is a guard, not a tax: at exactly the cap the model builds
    StreamOps.bigramScoreStream(docs, corpus, driverCap = 5)
  }

  test("the unigram, span, near-dup, winnow and NB langid builds refuse " +
      "a model past driverCap, naming the site, the cap and the batch " +
      "form") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read.parquet(
      s"${graft.Topologies.DemoSfDir}/documents.parquet")
    val in = MemoryStream[(Timestamp, Long, String)]
    val docs = in.toDF().toDF("ts", "doc_id", "text")
    Seq[(String, String, Long => org.apache.spark.sql.DataFrame)](
      ("lm_unigram", "textUnigramNll",
        cap => StreamOps.lmScoreStream(docs, corpus, driverCap = cap)),
      ("span_flag", "dedupSpans",
        cap => StreamOps.spanFlagStream(docs, corpus, driverCap = cap)),
      ("neardup_gate", "bandCollideAdmit",
        cap => StreamOps.nearDupGateStream(docs, corpus, driverCap = cap)),
      ("winnow_gate", "dedupWinnow",
        cap => StreamOps.winnowGateStream(docs, corpus, driverCap = cap)),
      ("nb_langid", "textLangIdNb",
        cap => StreamOps.nbLangIdStream(docs, corpus, driverCap = cap))
    ).foreach { case (site, batch, build) =>
      val e = intercept[IllegalArgumentException](build(1L))
      assert(e.getMessage.contains(s"$site model exceeds its driver cap " +
        "of 1 rows") && e.getMessage.contains(batch), e.getMessage)
    }
  }

  test("bigramKnScoreStream: replayed corpus docs score IDENTICAL " +
      "micro-nats to the gated batch textBigramKn; every backoff case " +
      "(unseen pair / unknown context / unknown continuation / both) " +
      "follows the model's own quantized-component definition; the " +
      "entry cap refuses loudly") {
    import graft.queries.PipelineQueries
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val want = PipelineQueries.textBigramKnOf(corpus)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val docsArr = corpus.collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // plain-Scala model reference for the backoff probes
    val pairs = docsArr.flatMap { case (_, t) =>
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      ws.sliding(2).filter(_.length == 2).map(a => (a(0), a(1)))
    }
    val cAb = pairs.groupBy(identity).map { case (k, g) => k -> g.size }
    val n1pA = cAb.groupBy(_._1._1).map { case (a, g) => a -> g.size }
    val cA = cAb.groupBy(_._1._1)
      .map { case (a, g) => a -> g.values.sum }
    val contB = cAb.groupBy(_._1._2).map { case (b, g) => b -> g.size }
    val tt = cAb.size
    val d = PipelineQueries.KnDiscount
    def micro(x: Double): Long =
      math.floor(-math.log(x) * PipelineQueries.NllMicro).toLong
    def base(a: String): Long = micro((d * n1pA(a)) / cA(a).toDouble)
    def cont(b: String): Long = micro(contB(b).toDouble / tt.toDouble)
    val contDefault = micro(1.0 / tt.toDouble)
    // an unseen (a, b) over known words — the vocabulary is tiny, so
    // unseen pairs must exist; fail loud if the corpus ever saturates
    val vocab = (n1pA.keySet ++ contB.keySet).toSeq.sorted
    val unseen = (for {
      a <- vocab.iterator if n1pA.contains(a)
      b <- vocab.iterator if contB.contains(b)
      if !cAb.contains((a, b))
    } yield (a, b)).nextOption()
    assert(unseen.nonEmpty, "corpus saturates all pairs — pick another probe")
    val (ua, ub) = unseen.get
    val probes = Seq(
      (9001L, s"$ua $ub", base(ua) + cont(ub)), // unseen pair
      (9002L, s"zzzzunknown $ub", cont(ub)), // unknown context
      (9003L, s"$ua zzzzunknown", base(ua) + contDefault), // unknown cont
      (9004L, "zzzzunknown qqqqunknown", contDefault)) // both unknown
    val in = MemoryStream[(Long, String)]
    val scored = StreamOps.bigramKnScoreStream(
      in.toDF().toDF("doc_id", "text"), corpus)
    val q = StreamOps.toMemory(
      scored.select("doc_id", "n_bigrams", "kn_nll_micro_sum"),
      "kn_test", OutputMode.Append, ckpt())
    try {
      in.addData((docsArr ++ probes.map(p => (p._1, p._2))).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("kn_test")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      // corpus docs: stream == batch, micro-nat for micro-nat (docs
      // with < 2 words score (0, 0) live; batch drops them)
      want.foreach { case (id, w) =>
        assert(got(id) == w, s"doc $id: stream ${got(id)} != batch $w")
      }
      probes.foreach { case (id, txt, exp) =>
        assert(got(id) == ((1L, exp)),
          s"backoff '$txt': got ${got(id)}, want (1, $exp)")
      }
    } finally q.stop()
    // the bounded-broadcast contract, same as the add-one form
    val tiny = Seq("a b c d", "b c a d").toDF("text")
    val e = intercept[IllegalArgumentException] {
      StreamOps.bigramKnScoreStream(
        in.toDF().toDF("doc_id", "text"), tiny, driverCap = 4)
    }
    assert(e.getMessage.contains("textBigramKn"), e.getMessage)
    // ...and an EMPTY model refuses loud (every score would read 0
    // micro-nats — probability 1 — and a gate would admit everything)
    val oneWorders = Seq("single", "words", "only").toDF("text")
    import org.apache.spark.sql.DataFrame
    Seq[(DataFrame, DataFrame) => DataFrame](
      (d, c) => StreamOps.bigramKnScoreStream(d, c),
      (d, c) => StreamOps.bigramScoreStream(d, c)).foreach { build =>
      val emptyE = intercept[IllegalArgumentException] {
        build(in.toDF().toDF("doc_id", "text"), oneWorders)
      }
      assert(emptyE.getMessage.contains("EMPTY"), emptyE.getMessage)
    }
  }

  test("trigramKnScoreStream: replayed corpus docs score IDENTICAL " +
      "micro-nats to the gated batch textTrigramKn; all five backoff " +
      "cases (unseen triple with seen mid / seen context with unseen " +
      "mid / unknown context / unknown context and mid / everything " +
      "unknown) follow the quantized-component cascade; the entry cap " +
      "and the empty model refuse loudly") {
    import graft.queries.PipelineQueries
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val want = PipelineQueries.textTrigramKnOf(corpus)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val docsArr = corpus.collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // plain-Scala model reference for the backoff probes
    val tris = docsArr.toSeq.flatMap { case (_, t) =>
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      ws.sliding(3).filter(_.length == 3).map(a => (a(0), a(1), a(2)))
    }
    val types = tris.toSet
    val cAb = tris.groupBy(t => (t._1, t._2)).map { case (k, g) => k -> g.size }
    val n1pAb = types.groupBy(t => (t._1, t._2)).map { case (k, g) => k -> g.size }
    val n1pMidB = types.groupBy(_._2).map { case (k, g) => k -> g.size }
    val bcTypes = types.map(t => (t._2, t._3))
    val n1pBDot = bcTypes.groupBy(_._1).map { case (k, g) => k -> g.size }
    val n1pDotC = bcTypes.groupBy(_._2).map { case (k, g) => k -> g.size }
    val n1pDotBc = types.groupBy(t => (t._2, t._3)).map { case (k, g) => k -> g.size }
    val tt2 = bcTypes.size
    val d = PipelineQueries.KnDiscount
    def micro(x: Double): Long =
      math.floor(-math.log(x) * PipelineQueries.NllMicro).toLong
    def base(a: String, b: String): Long =
      micro((d * n1pAb((a, b))) / cAb((a, b)).toDouble)
    def midNll(b: String, c: String): Long =
      micro((math.max(n1pDotBc((b, c)) - d, 0.0) +
        ((d * n1pBDot(b)) * (n1pDotC(c).toDouble / tt2.toDouble))) /
        n1pMidB(b).toDouble)
    def midBase(b: String): Long =
      micro((d * n1pBDot(b)) / n1pMidB(b).toDouble)
    def cont(c: String): Long = micro(n1pDotC(c).toDouble / tt2.toDouble)
    val contDefault = micro(1.0 / tt2.toDouble)
    // find one instance of each backoff case in the tiny-vocab corpus;
    // fail loud if the corpus ever saturates a case away
    val p1 = (for {
      (a, b) <- n1pAb.keysIterator
      c <- n1pDotC.keysIterator
      if bcTypes.contains((b, c)) && !types.contains((a, b, c))
    } yield (a, b, c)).nextOption()
    assert(p1.nonEmpty, "no unseen triple with a seen (b,c) type")
    val p2 = (for {
      (a, b) <- n1pAb.keysIterator
      c <- n1pDotC.keysIterator if !bcTypes.contains((b, c))
    } yield (a, b, c)).nextOption()
    assert(p2.nonEmpty, "no seen context with an unseen (b,c) type")
    val (b3, c3) = bcTypes.minBy(identity)
    val p4 = (for {
      b <- n1pMidB.keysIterator
      c <- n1pDotC.keysIterator if !bcTypes.contains((b, c))
    } yield (b, c)).nextOption()
    assert(p4.nonEmpty, "no known middle word with an unseen (b,c)")
    val probes = Seq(
      // unseen triple, seen context, seen (b,c): ctxBase + midNll
      (9001L, s"${p1.get._1} ${p1.get._2} ${p1.get._3}",
        base(p1.get._1, p1.get._2) + midNll(p1.get._2, p1.get._3)),
      // seen context, unseen (b,c), known cont word:
      // ctxBase + midBase + cont
      (9002L, s"${p2.get._1} ${p2.get._2} ${p2.get._3}",
        base(p2.get._1, p2.get._2) + midBase(p2.get._2) + cont(p2.get._3)),
      // unknown context, seen (b,c): midNll alone
      (9003L, s"zzzzunknown $b3 $c3", midNll(b3, c3)),
      // unknown context, unseen (b,c), known middle + cont word:
      // midBase + cont
      (9004L, s"zzzzunknown ${p4.get._1} ${p4.get._2}",
        midBase(p4.get._1) + cont(p4.get._2)),
      // everything unknown: the 1/T2 floor
      (9005L, "zzzzunknown qqqqunknown xxxxunknown", contDefault))
    val in = MemoryStream[(Long, String)]
    val scored = StreamOps.trigramKnScoreStream(
      in.toDF().toDF("doc_id", "text"), corpus)
    val q = StreamOps.toMemory(
      scored.select("doc_id", "n_trigrams", "kn3_nll_micro_sum"),
      "kn3_test", OutputMode.Append, ckpt())
    try {
      in.addData((docsArr ++ probes.map(p => (p._1, p._2))).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("kn3_test")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      // corpus docs: stream == batch, micro-nat for micro-nat (docs
      // with < 3 words score (0, 0) live; batch drops them)
      want.foreach { case (id, w) =>
        assert(got(id) == w, s"doc $id: stream ${got(id)} != batch $w")
      }
      probes.foreach { case (id, txt, exp) =>
        assert(got(id) == ((1L, exp)),
          s"backoff '$txt': got ${got(id)}, want (1, $exp)")
      }
    } finally q.stop()
    // the bounded-broadcast contract
    val tiny = Seq("a b c d", "b c a d").toDF("text")
    val e = intercept[IllegalArgumentException] {
      StreamOps.trigramKnScoreStream(
        in.toDF().toDF("doc_id", "text"), tiny, driverCap = 2)
    }
    assert(e.getMessage.contains("textTrigramKn"), e.getMessage)
    // ...and an EMPTY model refuses loud
    val twoWorders = Seq("just two", "words here").toDF("text")
    val emptyE = intercept[IllegalArgumentException] {
      StreamOps.trigramKnScoreStream(
        in.toDF().toDF("doc_id", "text"), twoWorders)
    }
    assert(emptyE.getMessage.contains("EMPTY"), emptyE.getMessage)
  }

  test("phashGateStream: decisions equal a brute-force probe over the " +
      "batch-computed corpus hashes (banded index == exhaustive scan " +
      "by pigeonhole), self-images match themselves at hamming 0, " +
      "corrupt bytes quarantine, far images admit, every input column " +
      "passes through; empty corpus and the cap refuse loudly") {
    import graft.tools.PngFixture
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read.parquet(PngFixture.Path)
    // corpus fingerprints via the BATCH decode (the stream==batch
    // identity the gate family pins)
    val corpusHashes = graft.ops.MultimodalOps.phashPartitioned(
        corpus, "img_id", "png", 0)
      .collect().filter(_.width != -1).map(f => (f.id, f.phash))
    def refProbe(h: Long): Option[(Long, Int)] = {
      // EXHAUSTIVE scan — the banded index must agree by pigeonhole
      val within = corpusHashes
        .map { case (id, ch) => (java.lang.Long.bitCount(h ^ ch), id) }
        .filter(_._1 <= graft.queries.PipelineQueries.PhashNeardupMaxHamming)
      if (within.isEmpty) None else Some {
        val m = within.min; (m._2, m._1)
      }
    }
    def flatPng(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows: Seq[(Long, String, Array[Byte])] =
      (0 until PngFixture.N).map(i =>
        (1000L + i, s"self$i", PngFixture.pngBytes(i))) ++
        Seq(
          (2000L, "corrupt", Array[Byte](1, 2, 3)),
          (2001L, "null", null.asInstanceOf[Array[Byte]]),
          (2002L, "black", flatPng(8, 8, 0x000000)),
          (2003L, "white", flatPng(16, 12, 0xFFFFFF)))
    val in = MemoryStream[(Long, String, Array[Byte])]
    val gated = StreamOps.phashGateStream(
      in.toDF().toDF("img_id", "tag", "png"), corpus)
    val q = StreamOps.toMemory(
      gated.select("img_id", "tag", "decision", "matched_id", "hamming",
        "phash"),
      "phash_gate_test", OutputMode.Append, ckpt())
    try {
      in.addData(rows.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("phash_gate_test").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
          if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(4))),
          r.getLong(5))))
        .toMap
      assert(got.size == rows.size, "every input row must emit")
      // self-images: exact corpus members match THEMSELVES at 0
      (0 until PngFixture.N).foreach { i =>
        val (_, dec, m, _) = got(1000L + i)
        assert(dec == "neardup" && m.contains((i.toLong, 0L)),
          s"self$i must match itself at hamming 0: $dec $m")
      }
      Seq(2000L, 2001L).foreach { id =>
        assert(got(id)._2 == "quarantine", s"$id: ${got(id)}")
        assert(got(id)._3.isEmpty, "quarantined rows carry no match")
      }
      // synthetic images: decision == the EXHAUSTIVE reference probe
      Seq(2002L, 2003L).foreach { id =>
        val (_, dec, m, ph) = got(id)
        refProbe(ph) match {
          case None =>
            assert(dec == "admit" && m.isEmpty, s"$id: $dec $m")
          case Some((mid, d)) =>
            assert(dec == "neardup" && m.contains((mid, d.toLong)),
              s"$id: $dec $m want ($mid,$d)")
        }
      }
      // the passthrough contract: tag survived (asserted implicitly by
      // the reads above); and at least one synthetic is a REAL admit,
      // so the admit path is exercised, not vacuous
      assert(Seq(2002L, 2003L).exists(id => got(id)._2 == "admit"),
        "expected at least one far synthetic to admit")
    } finally q.stop()
    // the bounded-broadcast + empty-model contracts
    val e1 = intercept[IllegalArgumentException] {
      StreamOps.phashGateStream(
        in.toDF().toDF("img_id", "tag", "png"), corpus, driverCap = 4)
    }
    assert(e1.getMessage.contains("mmPhashNeardup"), e1.getMessage)
    import spark.implicits._
    val junk = Seq((900L, Array[Byte](9, 9))).toDF("img_id", "png")
    val e2 = intercept[IllegalArgumentException] {
      StreamOps.phashGateStream(
        in.toDF().toDF("img_id", "tag", "png"), junk)
    }
    assert(e2.getMessage.contains("EMPTY"), e2.getMessage)
  }

  test("erGateStream: live decisions equal the batch resolution on the " +
      "same mentions (shared resolveAgainst definition), exact names " +
      "match at lev 0, deletions at lev 1, junk is nomatch with full " +
      "passthrough; empty catalog and the index cap refuse loudly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val catalog = graft.model.Tables.part(spark, "/root/testdata/sf0.001")
    val aName = catalog.select("p_name").head.getString(0)
    val deleted = aName.substring(0, 3) + aName.substring(4)
    val rows = Seq(
      (1L, "exact", aName),
      (2L, "deleted", deleted),
      (3L, "junk", "zzzzzzzz"))
    val in = MemoryStream[(Long, String, String)]
    val gated = StreamOps.erGateStream(
      in.toDF().toDF("mention_id", "tag", "mention"),
      catalog, "p_partkey", "p_name")
    val q = StreamOps.toMemory(
      gated.select("mention_id", "tag", "decision", "entity_id",
        "entity_name", "lev"),
      "er_gate_test", OutputMode.Append, ckpt())
    try {
      in.addData(rows.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("er_gate_test").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
          if (r.isNullAt(3)) None
          else Some((r.getLong(3), r.getString(4), r.getLong(5))))))
        .toMap
      assert(got.size == rows.size, "every input row must emit")
      assert(got(1L)._2 == "match" && got(1L)._3.exists(_._3 == 0L),
        s"exact name must match at lev 0: ${got(1L)}")
      assert(got(2L)._2 == "match" && got(2L)._3.exists(_._3 <= 1L),
        s"single deletion must match within lev 1: ${got(2L)}")
      assert(got(3L)._2 == "nomatch" && got(3L)._3.isEmpty, got(3L))
      // stream == batch: the IDENTICAL resolution over a static frame
      val batch = graft.ops.LinkOps.bestMatches(
          rows.toDF("mention_id", "tag", "mention"),
          graft.ops.LinkOps.entityCatalog(catalog, col("p_partkey"),
            col("p_name")),
          graft.queries.LinkageQueries.MaxDist)
        .collect().map { r =>
          val b = r.getAs[org.apache.spark.sql.Row]("best")
          r.getAs[Long]("mention_id") ->
            Option(b).map(x =>
              (x.getLong(1), x.getString(2), x.getLong(0)))
        }.toMap
      rows.foreach { case (id, _, _) =>
        assert(got(id)._3 == batch(id), s"stream != batch at $id")
      }
    } finally q.stop()
    val e1 = intercept[IllegalArgumentException] {
      StreamOps.erGateStream(in.toDF().toDF("mention_id", "tag", "mention"),
        catalog, "p_partkey", "p_name", maxCatalog = 4)
    }
    assert(e1.getMessage.contains("erMatches"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      StreamOps.erGateStream(in.toDF().toDF("mention_id", "tag", "mention"),
        catalog.filter(lit(false)), "p_partkey", "p_name")
    }
    assert(e2.getMessage.contains("EMPTY"), e2.getMessage)
  }

  test("mixWeightsStream: each trigger's complete snapshot reproduces " +
      "the batch temperature weights over everything seen so far") {
    import graft.queries.PipelineQueries
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    @volatile var last: Set[(String, Long, Long, Double)] = Set.empty
    val q = StreamOps.mixWeightsStream(
      in.toDF().toDF("source", "text")).start(ckpt()) { (w, _) =>
      last = w.select("source", "n_docs", "n_tokens", "weight").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    }
    def expectedOver(rows: Seq[(String, String)]): Set[(String, Long, Long, Double)] =
      PipelineQueries.weightsOf(
        rows.toDF("source", "text").groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(graft.ops.TextAnalyticsOps.wsTokenCount(col("text")))
            .as("n_tokens")))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    try {
      val batch1 = Seq("s1" -> "one two three", "s2" -> "a b c d e f")
      val batch2 = Seq("s1" -> "four five", "s3" -> "x")
      in.addData(batch1); q.processAllAvailable()
      assert(last == expectedOver(batch1))
      in.addData(batch2); q.processAllAvailable()
      assert(last == expectedOver(batch1 ++ batch2))
    } finally q.stop()
  }

  test("curateStream: enrich + filter + dedup match batch curation semantics") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val keep = "the cat and the dog sat of the mat and the dog ran to the " +
      "house and the cat slept in the sun all day long again and again"
    val q = StreamOps.toMemory(
      StreamOps.curateStream(in.toDF().toDF("ts", "doc_id", "text"),
        "ts", minScore = 0.1, minWords = 20L, watermarkDelay = "1 hour"),
      "cur_test", OutputMode.Append, ckpt())
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, keep),
        (Timestamp.valueOf("2024-01-01 10:01:00"), 2L, "el perro y la casa de " * 5),
        (Timestamp.valueOf("2024-01-01 10:02:00"), 3L, "too short"))
      q.processAllAvailable()
      // duplicate text in a later batch must be dropped by the dedup state
      in.addData((Timestamp.valueOf("2024-01-01 10:30:00"), 4L, keep))
      q.processAllAvailable()
      val ids = spark.table("cur_test").select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L)) // es doc filtered, short doc filtered, dup dropped
    } finally q.stop()
  }

  test("streamingHybrid: per-trigger fused results equal the gated " +
      "batch sim_hybrid on replayed corpus queries — the inverted " +
      "index and embedding norms built once, shared scoring and " +
      "fusion definitions, split across two triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.PipelineQueries
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val want = PipelineQueries.simHybrid(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // replay the batch query workload: each query doc's text +
    // embedding, split across two triggers
    val qdocs = docs
      .filter(col("doc_id").isInCollection(PipelineQueries.SimQueryIds))
      .join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getSeq[Float](2)))
    val (first, second) = qdocs.sortBy(_._1).splitAt(qdocs.length / 2)
    val in = MemoryStream[(Long, String, Seq[Float])]
    val results =
      scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val q = StreamOps.streamingHybrid(
      in.toDF().toDF("query_id", "text", "embedding"), docs, emb).start(
      ckpt()) { (batch, _) =>
      results ++= batch.select("qid", "rank", "doc_id", "rrf_pico")
        .as[(Long, Long, Long, Long)].collect()
    }
    try {
      in.addData(first.toIndexedSeq); q.processAllAvailable()
      in.addData(second.toIndexedSeq); q.processAllAvailable()
      assert(results.toSet == want,
        s"stream fusion != batch sim_hybrid:\n got ${results.toSet}\n " +
          s"want $want")
    } finally q.stop()
  }

  test("linregStream: every trigger's Complete snapshot equals the " +
      "batch OLS fit over the rows ingested so far (decimal sums " +
      "merge exactly across triggers; shared quotient definitions)") {
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val rows = graft.model.Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars"),
        graft.ops.TextAnalyticsOps.wsTokenCount(col("text")).as("yt"))
      .as[(String, Long, Long)].collect().sortBy(_._2)
    val (first, second) = rows.splitAt(rows.length / 2)
    def fit(sub: Seq[(String, Long, Long)]) =
      graft.queries.AnalyticsQueries.linregOf(
        sub.toDF("source", "xi", "yi").selectExpr("source",
          "CAST(xi AS DECIMAL(18,0)) AS x",
          "CAST(yi AS DECIMAL(18,0)) AS y"), "source")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val in = MemoryStream[(String, Long, Long)]
    val live = StreamOps.linregStream(
      in.toDF().toDF("source", "xi", "yi").selectExpr("source",
        "CAST(xi AS DECIMAL(18,0)) AS x",
        "CAST(yi AS DECIMAL(18,0)) AS y"), "source")
    val q = StreamOps.toMemory(live, "linreg_test", OutputMode.Complete,
      ckpt())
    try {
      def snapshot() = spark.table("linreg_test")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      in.addData(first.toIndexedSeq)
      q.processAllAvailable()
      assert(snapshot() == fit(first.toSeq),
        "mid-stream snapshot != batch fit over the first half")
      in.addData(second.toIndexedSeq)
      q.processAllAvailable()
      assert(snapshot() == fit(rows.toSeq),
        "final snapshot != the gated q_linreg fit over the full corpus")
    } finally q.stop()
  }

  test("buildHybridIndex fails LOUD on an empty docs corpus (the " +
      "build-once topology convention) instead of a raw NPE from a " +
      "NULL avgdl") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      StreamOps.buildHybridIndex(docs, emb)
    }
    assert(e.getMessage.contains("empty docs corpus"), e.getMessage)
  }

  test("stateless text-analysis ops run unchanged under streaming") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val analyzed = in.toDF().toDF("text").select(
      col("text"),
      graft.ops.TextAnalyticsOps.langId(col("text")).as("lang"),
      graft.ops.TextAnalyticsOps.wsTokenCount(col("text")).as("toks"),
      graft.functions.native.bpe_encode(lower(col("text")))
        .getField("enc").as("enc"))
    val q = StreamOps.toMemory(analyzed, "ta_test", OutputMode.Append, ckpt())
    try {
      in.addData("the cat and the dog", "el perro y la casa de")
      q.processAllAvailable()
      val out = spark.table("ta_test").select("lang", "toks", "enc")
        .as[(String, Long, String)].collect().toSet
      // "the" segments t|h|e -> the table has no (t,h)/(h,e)/(t,he)...
      // only what the frozen merges produce — assert against the batch
      // kernel itself (stateless parity is the claim, not the table)
      val batchEnc = Seq("the cat and the dog", "el perro y la casa de")
        .toDF("text")
        .select(graft.functions.native.bpe_encode(lower(col("text")))
          .getField("enc")).as[String].collect().toSet
      assert(out.map(_._3) == batchEnc)
      assert(out.map(t => (t._1, t._2)) == Set(("en", 5L), ("es", 6L)))
    } finally q.stop()
  }

  test("streamingRangeJoin: interval pairs across batches, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val buys = MemoryStream[(Timestamp, Long, Long)]
    val joined = StreamOps.streamingRangeJoin(
      clicks.toDF().toDF("c_ts", "c_user", "click_id"),
      buys.toDF().toDF("p_ts", "p_user", "purchase_id"),
      col("c_user") === col("p_user"), "c_ts", "p_ts", "30 minutes", "1 hour")
      .select("click_id", "purchase_id")
    val q = StreamOps.toMemory(joined, "rj_test", OutputMode.Append, ckpt())
    try {
      clicks.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 100L))
      q.processAllAvailable()
      // purchase arrives a batch later: must join against buffered click
      buys.addData(
        (Timestamp.valueOf("2024-01-01 10:20:00"), 1L, 200L), // within 30m
        (Timestamp.valueOf("2024-01-01 11:00:00"), 1L, 201L), // outside
        (Timestamp.valueOf("2024-01-01 10:20:00"), 2L, 202L)) // other user
      q.processAllAvailable()
      val out = spark.table("rj_test").as[(Long, Long)].collect().toSet
      assert(out == Set((100L, 200L)))
    } finally q.stop()
  }

  test("proximityWarnings: cumulative state joins across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[AdsbPosition]
    @volatile var pairs: Set[(String, String)] = Set.empty
    val q = StreamOps.proximityWarnings(in.toDS(), thresholdKm = 20.0,
      steps = 1, stepSec = 5, tempDir("graft-state"))
      .start(ckpt(), Trigger.ProcessingTime("1 second")) { (warnings, _) =>
      pairs = warnings.select("icao1", "icao2")
        .as[(String, String)].collect().toSet
    }
    try {
      in.addData(
        AdsbPosition("A", 1000L, 40.00, -73.00, 0.0, 0.0),
        AdsbPosition("B", 1000L, 40.05, -73.00, 0.0, 0.0), // ~5.6 km from A
        AdsbPosition("C", 1000L, 45.00, -60.00, 0.0, 0.0)) // far away
      q.processAllAvailable()
      assert(pairs == Set(("A", "B")))
      // D arrives alone in batch 2 — must pair against state from batch 1
      in.addData(AdsbPosition("D", 2000L, 40.02, -73.01, 0.0, 0.0))
      q.processAllAvailable()
      assert(pairs == Set(("A", "B"), ("A", "D"), ("B", "D")))
    } finally q.stop()
  }

  test("proximityWarnings: snapshot state survives a restarted query") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = tempDir("graft-state-restart")
    @volatile var pairs: Set[(String, String)] = Set.empty
    def launch(in: MemoryStream[AdsbPosition]) =
      StreamOps.proximityWarnings(in.toDS(), thresholdKm = 20.0,
        steps = 1, stepSec = 5, stateDir)
        .start(ckpt(), Trigger.ProcessingTime("1 second")) { (w, _) =>
        pairs = w.select("icao1", "icao2").as[(String, String)].collect().toSet
      }
    val in1 = MemoryStream[AdsbPosition]
    val q1 = launch(in1)
    try {
      in1.addData(
        AdsbPosition("A", 1000L, 40.00, -73.00, 0.0, 0.0),
        AdsbPosition("B", 1000L, 40.05, -73.00, 0.0, 0.0))
      q1.processAllAvailable()
      assert(pairs == Set(("A", "B")))
    } finally q1.stop()
    // a brand-new query (fresh source + checkpoint, batch ids restart at
    // 0) must still see A and B from the persisted snapshot
    val in2 = MemoryStream[AdsbPosition]
    val q2 = launch(in2)
    try {
      in2.addData(AdsbPosition("D", 2000L, 40.02, -73.01, 0.0, 0.0))
      q2.processAllAvailable()
      assert(pairs == Set(("A", "B"), ("A", "D"), ("B", "D")))
    } finally q2.stop()
  }

  test("lastNSortedStream: keyed ring buffer overwrites oldest, re-emits sorted") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    val q = StreamOps.toMemory(
      StreamOps.lastNSortedStream(in.toDS(), n = 3).toDF("key", "rn", "value"),
      "lastn_test", OutputMode.Update, ckpt())
    try {
      in.addData(("k", 9.0), ("k", 1.0))
      q.processAllAvailable()
      val batch1 = spark.table("lastn_test")
        .select("rn", "value").as[(Long, Double)].collect().toSet
      assert(batch1 == Set((1L, 1.0), (2L, 9.0)))

      in.addData(("k", 8.0), ("k", 2.0), ("k", 5.0))
      q.processAllAvailable()
      // arrivals 9,1,8,2,5 with ring size 3 -> survivors {8,2,5}: the
      // oldest (9, then 1) were overwritten, NOT the smallest/largest
      val rows = spark.table("lastn_test").as[(String, Long, Double)].collect()
      val lastEmit = rows.takeRight(3).map { case (_, rn, v) => (rn, v) }.toSet
      assert(lastEmit == Set((1L, 2.0), (2L, 5.0), (3L, 8.0)), s"got ${rows.toSeq}")
    } finally q.stop()
  }
}
