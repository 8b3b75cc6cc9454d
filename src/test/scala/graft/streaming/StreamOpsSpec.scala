package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec
import graft.model.AdsbPosition
import graft.ops.TextOps

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ckpt() = Files.createTempDirectory("graft-ckpt").toString

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
      StreamOps.mixSampleStream(
        in.toDF().toDF("doc_id", "source", "text"), corpus),
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
      StreamOps.bigramScoreStream(docs, corpus, maxModelEntries = 4)
    }
    assert(e.getMessage.contains("textBigramNll"),
      s"refusal must point at the batch join form: ${e.getMessage}")
    assert(e.getMessage.contains("5") && e.getMessage.contains("4"),
      s"refusal must name the size and the cap: ${e.getMessage}")
    // the cap is a guard, not a tax: at exactly the cap the model builds
    StreamOps.bigramScoreStream(docs, corpus, maxModelEntries = 5)
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
        in.toDF().toDF("doc_id", "text"), tiny, maxModelEntries = 4)
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
        in.toDF().toDF("doc_id", "text"), tiny, maxModelEntries = 2)
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
        in.toDF().toDF("img_id", "tag", "png"), corpus, maxCorpus = 4)
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

  test("packSequencesStream carries the per-source token offset across " +
      "triggers: assignments match the batch packing on ordered arrival") {
    import graft.queries.PipelineQueries
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1) // per-source-ordered arrival (ids are total order)
    val in = MemoryStream[(Long, String, String)]
    val q = StreamOps.toMemory(
      StreamOps.packSequencesStream(
        in.toDF().toDF("doc_id", "source", "text"),
        PipelineQueries.PackTokens),
      "pack_test", OutputMode.Append, ckpt())
    try {
      // three triggers: the running offset must survive the batch cuts
      docs.grouped(math.max(docs.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toIndexedSeq); q.processAllAvailable()
      }
      val got = spark.table("pack_test")
        .select("doc_id", "source", "n_tokens", "seq_id").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
        .toMap
      val expected = PipelineQueries.packSequences(spark, sfDir)
        .select("doc_id", "source", "n_tokens", "seq_id").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(expected.nonEmpty && got == expected)
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

  test("streamingTopK: per-trigger neighbors match the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val in = MemoryStream[(Long, Seq[Float])]
    val results = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = StreamOps.streamingTopK(
      in.toDF().toDF("query_id", "embedding"), corpus, k = 2, ckpt()) {
      (batch, _) =>
        results ++= batch.select("query_id", "rank", "neighbor_id")
          .as[(Long, Long, Long)].collect()
    }
    try {
      in.addData((100L, Seq(1.0f, 0.05f)))
      q.processAllAvailable()
      // nearest to (1, .05): vec 0, then vec 1
      assert(results.toList == List((100L, 1L, 0L), (100L, 2L, 1L)))
      in.addData((200L, Seq(0.0f, 1.0f)))
      q.processAllAvailable()
      assert(results.exists { case (qid, r, n) => qid == 200L && r == 1L && n == 2L })
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

  test("streamingTopKIvfPq: per-trigger neighbors equal the gated batch " +
      "operator on replayed corpus vectors — the index built once, " +
      "floats never re-read at serve time") {
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.PipelineQueries._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val qids = SimQueryIds
    val want = graft.ops.SimilarityOps.ivfPqTopK(corpus, qids, SimK,
      dim = EmbeddingDim, nCells = KmCells, nProbe = KmProbe,
      m = PqM, ks = PqKs, iters = KmIters)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    val qvecs = corpus.filter(col("vec_id").isInCollection(qids))
      .as[(Long, Array[Float])].collect()
    val in = MemoryStream[(Long, Array[Float])]
    val results = scala.collection.mutable.Set[(Long, Long, Long)]()
    val q = StreamOps.streamingTopKIvfPq(
      in.toDF().toDF("query_id", "embedding"), corpus, SimK,
      dim = EmbeddingDim, nCells = KmCells, nProbe = KmProbe,
      m = PqM, ks = PqKs, iters = KmIters, checkpoint = ckpt()) {
      (batch, _) =>
        results ++= batch.select("query_id", "rank", "neighbor_id")
          .as[(Long, Long, Long)].collect()
    }
    try {
      // two triggers: the index must serve both without rebuilding
      val (a, b) = qvecs.splitAt(qvecs.length / 2)
      in.addData(a.toIndexedSeq); q.processAllAvailable()
      in.addData(b.toIndexedSeq); q.processAllAvailable()
      assert(results.toSet == want,
        s"stream must equal the gated batch IVFADC results: " +
          s"extra=${results.toSet diff want} missing=${want diff results.toSet}")
      // serving-boundary hygiene: a duplicated query id collapses to
      // ONE ranked list (k rows, k distinct neighbors, not doubles)
      // and a wrong-width vector quarantines instead of killing the
      // topology
      results.clear()
      val dupQ = qvecs.head
      in.addData(dupQ, dupQ, (999L, Array.fill(3)(0.5f)))
      q.processAllAvailable()
      val perQ = results.toSeq.filter(_._1 == dupQ._1)
      assert(perQ.map(_._2).sorted == (1L to SimK.toLong),
        s"duplicate ids must serve one clean rank list: $perQ")
      assert(perQ.map(_._3).distinct.size == SimK,
        s"neighbors must be distinct, not doubled: $perQ")
      assert(!results.exists(_._1 == 999L),
        "a wrong-width vector must quarantine, yielding no rows")
    } finally q.stop()
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

  test("temporalAsOf: probes match latest prior build, state spans batches") {
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.{Timed, TemporalMatch}
    val in = MemoryStream[Timed]
    val q = StreamOps.temporalAsOf(in.toDS()).toDF()
      .writeStream.format("memory").queryName("ta_join")
      .outputMode(OutputMode.Append).option("checkpointLocation", ckpt()).start()
    try {
      in.addData(
        Timed(1L, 10L, 100L, isBuild = true),
        Timed(1L, 10L, 101L, isBuild = true), // tie -> larger id wins
        Timed(1L, 10L, 500L, isBuild = false), // equal ts matches (<=)
        Timed(1L, 5L, 501L, isBuild = false), // before any build -> drops
        Timed(2L, 99L, 502L, isBuild = false)) // key with no build -> drops
      q.processAllAvailable()
      // batch 2: probe must see the build kept in state from batch 1
      in.addData(Timed(1L, 20L, 503L, isBuild = false))
      q.processAllAvailable()
      // batch 3: stale build must not regress state
      in.addData(
        Timed(1L, 7L, 102L, isBuild = true),
        Timed(1L, 30L, 504L, isBuild = false))
      q.processAllAvailable()
      val out = spark.table("ta_join")
        .select("probeId", "buildId", "buildTs")
        .as[(Long, Long, Long)].collect().toSet
      assert(out == Set(
        (500L, 101L, 10L),
        (503L, 101L, 10L),
        (504L, 101L, 10L)))
    } finally q.stop()
  }

  test("latestPositions keyed state: newest posTime wins across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[AdsbPosition]
    val q = StreamOps.toMemory(
      StreamOps.latestPositions(in.toDS()).toDF(),
      "lp_test", OutputMode.Update, ckpt())
    try {
      in.addData(AdsbPosition("A", 100L, 40.0, -73.0, 300.0, 90.0))
      q.processAllAvailable()
      in.addData(
        AdsbPosition("A", 50L, 41.0, -75.0, 310.0, 180.0), // stale -> ignored
        AdsbPosition("B", 10L, 42.0, -70.0, 250.0, 45.0))
      q.processAllAvailable()
      val latest = spark.table("lp_test").as[AdsbPosition].collect()
        .groupBy(_.icao).map { case (k, vs) => k -> vs.last }
      assert(latest("A").posTime == 100L && latest("A").lat == 40.0)
      assert(latest("B").posTime == 10L)
    } finally q.stop()
  }

  test("proximityWarnings: cumulative state joins across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[AdsbPosition]
    @volatile var pairs: Set[(String, String)] = Set.empty
    val q = StreamOps.proximityWarnings(in.toDS(), thresholdKm = 20.0,
      steps = 1, stepSec = 5, Files.createTempDirectory("graft-state").toString)
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
    val stateDir = Files.createTempDirectory("graft-state-restart").toString
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

  test("clusterAssignStream: the per-trigger state frame equals a full " +
      "CC recompute over everything ingested — adoption in trigger 2, " +
      "a cross-history merge in trigger 3") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.DedupOps
    def filler(tag: String, n: Int): String =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    // the DedupOpsSpec overlap-segment topology: X = A++C, Y = C++B
    // are separate clusters (J ≈ 0.31); Z = A++C++B merges them
    // (J(Z, ·) ≈ 0.66)
    val a = filler("alpha", 24); val c = filler("mid", 24)
    val b = filler("beta", 24)
    val x = s"$a $c"; val y = s"$c $b"
    val batch1 = Seq((10L, x), (20L, y), (40L, filler("solo", 20)))
    val batch2 = Seq((11L, s"$x hc hd"), (21L, s"$y hg hh")) // adoption
    val batch3 = Seq((100L, s"$a $c $b")) // merges 10 and 20
    val statePath = Files.createTempDirectory("graft-castate").toString
    val in = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.Map[Long, Map[Long, Long]]()
    val q = StreamOps.clusterAssignStream(
      in.toDF().toDF("doc_id", "text"), statePath, ckpt()) { (df, id) =>
      emitted(id) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    def stateFrame(): Map[Long, Long] = {
      val vs = new java.io.File(statePath).listFiles.map(_.getName)
        .filter(_.startsWith("v")).map(_.drop(1).toLong).sorted
      spark.read.parquet(s"$statePath/v${vs.last}/clusters")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    def fullRecompute(docs: Seq[(Long, String)]): Map[Long, Long] = {
      val df = docs.toDF("doc_id", "text")
      DedupOps.connectedComponents(
        DedupOps.minhashNearDups(df, col("doc_id"), col("text"), 0.5)
          .select("id1", "id2"),
        df.select(col("doc_id").as("id")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    try {
      in.addData(batch1.toIndexedSeq); q.processAllAvailable()
      assert(stateFrame() == fullRecompute(batch1))
      in.addData(batch2.toIndexedSeq); q.processAllAvailable()
      val s2 = stateFrame()
      assert(s2 == fullRecompute(batch1 ++ batch2))
      assert(s2(11L) == 10L && s2(21L) == 20L, s"adoption: $s2")
      in.addData(batch3.toIndexedSeq); q.processAllAvailable()
      val s3 = stateFrame()
      assert(s3 == fullRecompute(batch1 ++ batch2 ++ batch3))
      // the merge relabeled BOTH history clusters to the union minimum
      assert(s3(100L) == 10L && s3(20L) == 10L && s3(21L) == 10L,
        s"merge: $s3")
      assert(s3(40L) == 40L, "the singleton stayed untouched")
      // emitted rows are each batch's ingest-time assignment
      assert(emitted.values.map(_.keySet).reduce(_ ++ _) ==
        (batch1 ++ batch2 ++ batch3).map(_._1).toSet,
        s"every doc assigned exactly once across triggers: $emitted")
      assert(emitted.maxBy(_._1)._2 == Map(100L -> 10L),
        s"the merger's ingest-time assignment: $emitted")
      // trigger 4: a RE-INGESTED doc_id (at-least-once upstream) plus
      // a genuinely new doc — the duplicate is dropped by the
      // admission anti-join (no duplicate (doc_id, cluster) state
      // rows), state equals the recompute over DISTINCT docs, and the
      // sink still reports the re-ingested id's current cluster
      in.addData(Seq((10L, x), (200L, filler("zeta", 20))))
      q.processAllAvailable()
      val s4 = stateFrame()
      assert(s4 == fullRecompute(
        batch1 ++ batch2 ++ batch3 ++ Seq((200L, filler("zeta", 20)))))
      val lastVersion = new java.io.File(statePath).listFiles
        .map(_.getName).filter(_.startsWith("v"))
        .map(_.drop(1).toLong).max
      val stateRows = spark.read
        .parquet(s"$statePath/v$lastVersion/clusters")
        .groupBy("doc_id").count().filter(col("count") > 1).count()
      assert(stateRows == 0, "re-ingest must not duplicate state rows")
      assert(emitted(lastVersion) == Map(10L -> 10L, 200L -> 200L),
        s"sink reports the re-ingested id's CURRENT cluster: $emitted")
      // superseded cluster snapshots are pruned to the current + one
      // prior (retry safety); docs stay append-only for every version
      val dirs = new java.io.File(statePath).listFiles
        .filter(_.getName.startsWith("v")).sortBy(_.getName.drop(1).toLong)
      assert(dirs.length == 4, s"four versions: ${dirs.toSeq}")
      val withClusters = dirs.filter(d =>
        new java.io.File(d, "clusters").exists).map(_.getName)
      assert(withClusters.sameElements(dirs.takeRight(2).map(_.getName)),
        s"cluster state must be bounded at the last two frames: " +
          s"${withClusters.toSeq}")
      assert(dirs.forall(d => new java.io.File(d, "docs").exists),
        "docs are append-only history, never pruned")
      // INCREMENTAL COST, pinned at the plan: a trigger's assignment
      // reads history as the STORED band/shingle tables (one
      // partitioned scan each, version-filtered) and the cluster
      // snapshot — history DOCS never appear in the plan, so history
      // text is provably never re-shingled or re-minhashed
      val versions = StreamOps.clusterAssignVersions(
        spark, statePath, lastVersion + 1)
      val trig = StreamOps.clusterAssignTrigger(
        spark, statePath, lastVersion + 1,
        Seq((300L, "probe text only")).toDF("doc_id", "text"),
        StreamOps.clusterAssignHistClusters(spark, statePath, versions), 0.5)
      val plan = trig.queryExecution.executedPlan.toString
      assert(!plan.contains("/docs"),
        "per-trigger plan must never scan history docs:\n" + plan)
      assert(plan.contains("/bands") && plan.contains("/shingles"),
        "per-trigger plan must read the stored derived state:\n" + plan)
      assert(plan.contains("PartitionFilters") && plan.contains("version"),
        "stored-state reads must partition-filter on version:\n" + plan)
      // MAINTENANCE COMPACTION: folding all derived-state partitions
      // <= upTo into one changes NOTHING a trigger computes — same
      // probe batch, identical assignment — while the partition-dir
      // count (the per-trigger discovery cost) drops to the retained
      // window
      def probeAssign(): Map[Long, Long] = StreamOps.clusterAssignTrigger(
        spark, statePath, lastVersion + 1,
        Seq((300L, x)).toDF("doc_id", "text"),
        StreamOps.clusterAssignHistClusters(spark, statePath,
          StreamOps.clusterAssignVersions(spark, statePath, lastVersion + 1)),
        0.5).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val before = probeAssign()
      assert(before(300L) == 10L, s"the probe doc adopts doc 10's cluster: $before")
      StreamOps.compactClusterState(spark, statePath, lastVersion - 1)
      assert(probeAssign() == before,
        "compaction must not change any trigger result")
      // the fold is PUBLISHED in the manifest (live = the fold + the
      // retained tail) while the superseded directories are only
      // RETIRED — still on disk for the in-flight-reader grace window
      val m1 = StreamOps.readClusterManifest(spark, statePath).get
      Seq("bands", "shingles").foreach { t =>
        assert(m1.liveOf(t).map(_._1) ==
          Seq(lastVersion - 1, lastVersion),
          s"$t live versions after compaction: ${m1.liveOf(t)}")
      }
      def retiredDir(e: (String, Long, Long)): java.io.File =
        new java.io.File(
          StreamOps.clusterPartDir(statePath, e._1, e._2, e._3))
      assert(m1.retired.nonEmpty && m1.retired.forall(retiredDir(_).exists),
        s"retired dirs linger until the next compaction: ${m1.retired}")
      // a re-run (the crash-recovery path) folds nothing new, SWEEPS
      // the retired directories, and converges to the same results
      StreamOps.compactClusterState(spark, statePath, lastVersion - 1)
      assert(probeAssign() == before)
      val m2 = StreamOps.readClusterManifest(spark, statePath).get
      assert(m2.retired.isEmpty && m2.live == m1.live,
        s"the sweep clears retired and folds nothing new: $m2")
      assert(m1.retired.forall(e => !retiredDir(e).exists),
        "the next compaction sweeps the retired dirs")
      Seq("bands", "shingles").foreach { t =>
        val parts = new java.io.File(s"$statePath/$t").listFiles
          .map(_.getName).filter(_.startsWith("version=")).sorted
        assert(parts.sameElements(
          Seq(s"version=${lastVersion - 1}", s"version=$lastVersion")),
          s"$t partitions after the sweep: ${parts.toSeq}")
      }
      // the retry window is enforced
      intercept[IllegalArgumentException] {
        StreamOps.compactClusterState(spark, statePath, lastVersion)
      }
      ()
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(statePath))
    }
  }

  test("clusterAssignStream: a legacy statePath (docs-only, no derived " +
      "band/shingle state) is backfilled on the first trigger instead " +
      "of silently reading empty history") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.DedupOps
    def filler(tag: String, n: Int): String =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val a = filler("alpha", 24); val c = filler("mid", 24)
    val x = s"$a $c"
    // hand-write the PRE-derived-state layout: v0/docs + v0/clusters,
    // no bands/ or shingles/ directories
    val statePath = Files.createTempDirectory("graft-calegacy").toString
    val legacy = Seq((10L, x), (40L, filler("solo", 20)))
    legacy.toDF("doc_id", "text").write.parquet(s"$statePath/v0/docs")
    Seq((10L, 10L), (40L, 40L)).toDF("doc_id", "cluster")
      .write.parquet(s"$statePath/v0/clusters")
    // migration happens under the stream's ORIGINAL checkpoint (batch
    // ids continue past the existing versions), so exercise the
    // trigger units at id=1 directly — a fresh MemoryStream checkpoint
    // would restart ids at 0 and never see v0 by the version contract
    val versions = StreamOps.clusterAssignVersions(spark, statePath, 1L)
    assert(versions.sameElements(Array(0L)))
    StreamOps.ensureDerivedClusterState(spark, statePath, versions)
    Seq("bands", "shingles").foreach { t =>
      assert(new java.io.File(s"$statePath/$t/version=0/gen=0").exists,
        s"legacy version 0 must be backfilled into $t")
    }
    // the backfill is COMMITTED — the manifest lists it live
    val m0 = StreamOps.readClusterManifest(spark, statePath).get
    Seq("bands", "shingles").foreach(t =>
      assert(m0.liveOf(t) == Seq((0L, 0L)), s"$t: ${m0.liveOf(t)}"))
    // doc 11 is a near-dup of legacy doc 10 — with EMPTY history it
    // would become its own cluster; with backfilled history it adopts
    val assigned = StreamOps.clusterAssignTrigger(spark, statePath, 1L,
      Seq((11L, s"$x hc hd")).toDF("doc_id", "text"),
      StreamOps.clusterAssignHistClusters(spark, statePath, versions), 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned == Map(11L -> 10L, 10L -> 10L, 40L -> 40L),
      s"legacy history must be adopted, not ignored: $assigned")
    // idempotent: a second pass backfills nothing (no version above
    // the newest stored partition)
    StreamOps.ensureDerivedClusterState(spark, statePath, versions)
    // and the STREAM path refuses this layout under a FRESH checkpoint
    // (batch ids would restart at 0 and clobber legacy v0) — the
    // checkpoint-marker guard fails the query loud
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.clusterAssignStream(
      in.toDF().toDF("doc_id", "text"), statePath, ckpt()) { (_, _) => }
    try {
      in.addData(Seq((500L, "fresh doc text")))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(ex).exists(_.contains("resume the original checkpoint")),
        s"expected the marker guard, got: ${chain(ex)}")
    } finally q.stop()
  }

  test("cluster-state manifest ADOPTION: a flat pre-manifest layout is " +
      "restructured to version=/gen= once, gaps below the lowest stored " +
      "version are recorded as prior folds, and nothing phantom-backfills") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.DedupOps
    def filler(tag: String, n: Int): String =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val statePath = Files.createTempDirectory("graft-caadopt").toString
    // docs for v0..v2; FLAT derived dirs for v1 and v2 only — v0 was
    // folded into v1 by a legacy (pre-manifest) compaction
    val docsByV = Map(
      0L -> Seq((10L, filler("alpha", 24))),
      1L -> Seq((20L, filler("beta", 24))),
      2L -> Seq((30L, filler("gamma", 24))))
    docsByV.foreach { case (v, docs) =>
      docs.toDF("doc_id", "text").write.parquet(s"$statePath/v$v/docs")
    }
    Seq((10L, 10L), (20L, 20L), (30L, 30L)).toDF("doc_id", "cluster")
      .write.parquet(s"$statePath/v2/clusters")
    Seq(1L, 2L).foreach { v =>
      val docs = (if (v == 1L) docsByV(0L) ++ docsByV(1L) else docsByV(2L))
        .toDF("doc_id", "text")
      DedupOps.clusterBandKeys(docs, col("doc_id"), col("text"))
        .write.parquet(s"$statePath/bands/version=$v")
      DedupOps.clusterShingleSets(docs, col("doc_id"), col("text"))
        .write.parquet(s"$statePath/shingles/version=$v")
    }
    val m = StreamOps.adoptClusterStateLayout(spark, statePath).get
    Seq("bands", "shingles").foreach { t =>
      assert(m.liveOf(t) == Seq((1L, 0L), (2L, 0L)), s"$t: ${m.liveOf(t)}")
      assert(m.floor(t) == 0L, s"v0's legacy fold sits below the floor")
      assert(new java.io.File(s"$statePath/$t/version=1/gen=0").exists,
        s"$t/version=1 restructured under gen=0")
      assert(!new java.io.File(s"$statePath/$t/version=1").listFiles
        .exists(_.getName.endsWith(".parquet")),
        s"$t/version=1's files all moved under gen=0")
    }
    // adoption is once: a second call returns the committed manifest
    assert(StreamOps.adoptClusterStateLayout(spark, statePath).contains(m))
    // exact gap detection: v0 is folded (below floor), v1 v2 live — a
    // backfill pass must touch NOTHING
    StreamOps.ensureDerivedClusterState(spark, statePath,
      Array(0L, 1L, 2L))
    val m2 = StreamOps.readClusterManifest(spark, statePath).get
    assert(m2.live == m.live, s"no phantom backfill of the folded v0: $m2")
    // and the restructured store still reads correctly through a trigger
    val assigned = StreamOps.clusterAssignTrigger(spark, statePath, 3L,
      Seq((40L, filler("alpha", 24) + " x1 x2")).toDF("doc_id", "text"),
      Seq((10L, 10L), (20L, 20L), (30L, 30L)).toDF("doc_id", "cluster"),
      0.5).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned(40L) == 10L,
      s"history reads through the manifest paths: $assigned")
  }

  test("cluster-state manifest: a torn (uncommitted) partition write is " +
      "never trusted — exact gap detection rewrites it from the docs") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.DedupOps
    def filler(tag: String, n: Int): String =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val statePath = Files.createTempDirectory("graft-catorn").toString
    val docs0 = Seq((10L, filler("alpha", 24)))
    docs0.toDF("doc_id", "text").write.parquet(s"$statePath/v0/docs")
    StreamOps.ensureDerivedClusterState(spark, statePath, Array(0L))
    // crash mid-ingest of v1: the docs landed, the bands write was
    // TORN (any uncommitted content — here rows derived from docs
    // that were never ingested), the shingles directory is missing
    // entirely, and no manifest commit ran
    val docs1 = Seq((20L, filler("beta", 24)))
    docs1.toDF("doc_id", "text").write.parquet(s"$statePath/v1/docs")
    DedupOps.clusterBandKeys(
        Seq((999L, "garbage from a crashed writer")).toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      .write.mode("overwrite")
      .parquet(StreamOps.clusterPartDir(statePath, "bands", 1L, 0L))
    // the pre-manifest gap detection trusted ANY existing directory —
    // the garbage would have survived forever; the manifest makes the
    // check exact (v1 is above the floor and not live => rewrite)
    StreamOps.ensureDerivedClusterState(spark, statePath, Array(0L, 1L))
    val want = DedupOps.clusterBandKeys(docs1.toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      .collect().map(_.toSeq).toSet
    val got = spark.read.parquet(
        StreamOps.clusterPartDir(statePath, "bands", 1L, 0L))
      .collect().map(_.toSeq).toSet
    assert(got == want, "the torn partition must be rewritten from v1's docs")
    val m = StreamOps.readClusterManifest(spark, statePath).get
    Seq("bands", "shingles").foreach(t =>
      assert(m.liveOf(t).map(_._1) == Seq(0L, 1L), s"$t: ${m.liveOf(t)}"))
  }

  test("cluster-state manifest: a torn manifest (no eof terminator) is " +
      "invisible — readers step down a sequence and the next commit " +
      "burns past it") {
    val statePath = Files.createTempDirectory("graft-camani").toString
    val m0 = StreamOps.commitClusterManifest(spark, statePath)(_ =>
      ClusterStateManifest.empty.copy(
        live = Map("bands" -> Seq((0L, 0L)), "shingles" -> Seq((0L, 0L)))))
    // a writer crash mid-manifest leaves the next sequence file
    // incomplete (no eof=true)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        s"$statePath/_manifests/${"%020d".format(1)}.manifest"),
      "floors=\ngens=\nlive.bands=0:0,5:0\nlive.shingles=".getBytes("UTF-8"))
    assert(StreamOps.readClusterManifest(spark, statePath).contains(m0),
      "a torn manifest was never committed — readers use the previous")
    val m2 = StreamOps.commitClusterManifest(spark, statePath)(prev =>
      prev.get.copy(retired = Seq(("bands", 99L, 0L))))
    assert(StreamOps.readClusterManifest(spark, statePath).contains(m2))
    assert(new java.io.File(
      s"$statePath/_manifests/${"%020d".format(2)}.manifest").exists,
      "the torn sequence number is burned, not reused")
  }

  test("cluster-state manifest: legacy absolute-path retired entries " +
      "parse into relative tuples, and an unreadable newest candidate " +
      "(pruning racing the open) steps down like a torn one") {
    val statePath = Files.createTempDirectory("graft-camlegacy").toString
    // the pre-tuple on-disk form: absolute partition paths joined on '|'
    val legacy =
      "floors=bands:0,shingles:0\ngens=bands:1,shingles:1\n" +
        "live.bands=1:0\nlive.shingles=1:0\n" +
        s"retired=$statePath/bands/version=0/gen=0|" +
        s"$statePath/shingles/version=0/gen=0\neof=true\n"
    new java.io.File(s"$statePath/_manifests").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        s"$statePath/_manifests/${"%020d".format(0)}.manifest"),
      legacy.getBytes("UTF-8"))
    val m = StreamOps.readClusterManifest(spark, statePath).get
    assert(m.retired ==
      Seq(("bands", 0L, 0L), ("shingles", 0L, 0L)),
      s"legacy paths must migrate to relative tuples: ${m.retired}")
    // a newer candidate that cannot be read (here: a directory wearing
    // a manifest name — the same observable as a file deleted between
    // listStatus and open) must NOT throw: the reader steps down
    new java.io.File(
      s"$statePath/_manifests/${"%020d".format(1)}.manifest").mkdirs()
    assert(StreamOps.readClusterManifest(spark, statePath).contains(m),
      "an unreadable candidate steps down to the previous sequence")
  }

  test("cluster-state manifest: a COMMITTED manifest (eof=true) with an " +
      "unmigratable legacy retired entry FAILS LOUD instead of reading " +
      "as torn — stepping down past real committed state would be a " +
      "silent regression") {
    val statePath = Files.createTempDirectory("graft-cambad").toString
    // committed (eof terminator present) but the retired path lacks
    // the fixed version=/gen= tail every real legacy entry carries
    val bad =
      "floors=bands:0,shingles:0\ngens=bands:1,shingles:1\n" +
        "live.bands=1:0\nlive.shingles=1:0\n" +
        s"retired=$statePath/bands/oops-not-a-partition\neof=true\n"
    new java.io.File(s"$statePath/_manifests").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        s"$statePath/_manifests/${"%020d".format(0)}.manifest"),
      bad.getBytes("UTF-8"))
    val e = intercept[
      graft.streaming.ClusterStateManifest.UnmigratableManifestException] {
      StreamOps.readClusterManifest(spark, statePath)
    }
    assert(e.getMessage.contains("oops-not-a-partition"))
    // the rule is GENERAL, not a legacy special case: any committed
    // manifest that fails to parse (here a modern retired entry with
    // too few fields — a corrupt line or a future format) fails loud
    val statePath2 = Files.createTempDirectory("graft-cambad2").toString
    val bad2 =
      "floors=bands:0,shingles:0\ngens=bands:1,shingles:1\n" +
        "live.bands=1:0\nlive.shingles=1:0\n" +
        "retired=bands:0\neof=true\n" // t:v:g expected, got 2 fields
    new java.io.File(s"$statePath2/_manifests").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        s"$statePath2/_manifests/${"%020d".format(0)}.manifest"),
      bad2.getBytes("UTF-8"))
    intercept[
      graft.streaming.ClusterStateManifest.UnmigratableManifestException] {
      StreamOps.readClusterManifest(spark, statePath2)
    }
    ()
  }

  test("compactClusterState runs CONCURRENT with live triggers: state " +
      "equals a full recompute after every trigger while a background " +
      "compactor folds (one fold per round — the retention contract)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.DedupOps
    def filler(tag: String, n: Int): String =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val a = filler("alpha", 24); val b = filler("beta", 24)
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq((10L, a), (11L, s"$a x1 x2"), (30L, filler("solo", 20))),
      Seq((20L, b), (40L, filler("uniq", 20))),
      Seq((21L, s"$b y1 y2"), (50L, filler("mono", 20))),
      Seq((12L, s"$a z1 z2 z3"), (60L, filler("hapax", 20))),
      Seq((22L, s"$b w1"), (70L, filler("dis", 20))))
    val statePath = Files.createTempDirectory("graft-caconc").toString
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.clusterAssignStream(
      in.toDF().toDF("doc_id", "text"), statePath, ckpt()) { (_, _) => }
    def stateFrame(): Map[Long, Long] = {
      val vs = new java.io.File(statePath).listFiles.map(_.getName)
        .filter(_.startsWith("v")).map(_.drop(1).toLong).sorted
      spark.read.parquet(s"$statePath/v${vs.last}/clusters")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    def fullRecompute(docs: Seq[(Long, String)]): Map[Long, Long] = {
      val df = docs.toDF("doc_id", "text")
      DedupOps.connectedComponents(
        DedupOps.minhashNearDups(df, col("doc_id"), col("text"), 0.5)
          .select("id1", "id2"),
        df.select(col("doc_id").as("id")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // one compaction per round, OVERLAPPING the trigger: `go` releases
    // a fold as each round starts, `done` gates the next round so no
    // trigger ever spans two compactions (the documented retention
    // contract — a reader outlives at most one concurrent fold)
    val go = new java.util.concurrent.Semaphore(0)
    val done = new java.util.concurrent.Semaphore(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    @volatile var stopCompactor = false
    val compactor = new Thread(() => {
      while (!stopCompactor) {
        if (go.tryAcquire(50, java.util.concurrent.TimeUnit.MILLISECONDS)) {
          try {
            val vs = StreamOps.clusterAssignVersions(
              spark, statePath, Long.MaxValue)
            if (vs.length >= 2)
              StreamOps.compactClusterState(spark, statePath, vs.last - 1)
          } catch {
            case t: Throwable => errs.add(t); ()
          } finally done.release()
        }
      }
    }, "graft-test-compactor")
    compactor.start()
    try {
      var seen = Seq.empty[(Long, String)]
      batches.foreach { batch =>
        go.release()
        in.addData(batch.toIndexedSeq)
        q.processAllAvailable()
        seen ++= batch
        assert(stateFrame() == fullRecompute(seen),
          s"state == recompute after batch ${batch.map(_._1)}")
        done.acquire()
      }
    } finally {
      stopCompactor = true
      compactor.join()
      q.stop()
    }
    assert(errs.isEmpty, s"compactor must never error: " +
      s"${errs.toArray.toSeq.map(_.toString)}")
    // the compactor really folded: the live set is bounded below the
    // trigger count
    val m = StreamOps.readClusterManifest(spark, statePath).get
    Seq("bands", "shingles").foreach(t =>
      assert(m.liveOf(t).length < batches.length,
        s"$t live set after concurrent folds: ${m.liveOf(t)}"))
  }
}
