package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** Driver t1-gate parity: every registered query must execute end-to-end
  * on the smoke-scale testdata. Catches runtime breakage (analysis
  * errors, bad casts, missing columns) across the whole query surface. */
class IntegrationSmokeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name executes at sf0.001") {
      val n = fn(spark, sfDir).count()
      assert(n >= 0)
    }
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("nonempty results where the smoke data must produce them") {
    Seq("wordcount", "dataclean", "rolling_count", "flight_dist",
      "sessionize", "dedup_exact", "sim_topk", "text_langid", "mm_frames")
      .foreach { name =>
        assert(SparkEntry.queries(name)(spark, sfDir).count() > 0, name)
      }
  }

  // every gated row-local operator also has a live streaming form; the
  // two round-7 additions run here under MemoryStream against their
  // batch equivalents on the same data (Run topologies hash_sample /
  // json_props use these exact compositions)

  test("hash_sample streams: same deterministic subset as the batch filter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (1 to 200).map(i => s"document body number $i")
    val in = MemoryStream[String]
    val sampled = in.toDF().toDF("value")
      .filter(graft.queries.PipelineQueries.hashSamplePredicate(md5(col("value"))))
    val q = graft.streaming.StreamOps.toMemory(sampled, "hs_smoke",
      OutputMode.Append, tempDir("hs-ckpt"))
    try {
      in.addData(docs)
      q.processAllAvailable()
      val streamed = spark.table("hs_smoke").as[String].collect().toSet
      val batch = docs.toDF("value")
        .filter(graft.queries.PipelineQueries.hashSamplePredicate(md5(col("value"))))
        .as[String].collect().toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty && streamed.size < docs.size)
    } finally q.stop()
  }

  test("quality_cut streams: static-threshold gate matches the batch filter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and runs on",
      "aaaa bbbb", "1 2 3 4 5 6 7 8 9", "",
      "a perfectly ordinary sentence with the usual words in it",
      "zz", "the the the the the the")
    def gate(df: org.apache.spark.sql.DataFrame) = df
      .select(col("value"),
        graft.ops.TextAnalyticsOps.qualityFeatures(col("value"))
          .getField("score").as("score"))
      .filter(col("score") >= 0.3)
    val in = MemoryStream[String]
    val q = graft.streaming.StreamOps.toMemory(gate(in.toDF().toDF("value")),
      "qc_smoke", OutputMode.Append,
      tempDir("qc-ckpt"))
    try {
      in.addData(texts)
      q.processAllAvailable()
      val streamed = spark.table("qc_smoke").select("value").as[String].collect().toSet
      val batch = gate(texts.toDF("value")).select("value").as[String].collect().toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty && streamed.size < texts.size)
    } finally q.stop()
  }

  test("json_props streams: running per-key stats match the batch agg") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lines = (1 to 60).map(i => s"""{"Icao":"${i % 3}","Spd":${i * 1.5}}""")
    def props(df: org.apache.spark.sql.DataFrame) = df
      .select(get_json_object(col("value"), "$.Icao").as("icao"),
        get_json_object(col("value"), "$.Spd").cast("double").as("spd"))
      .filter(col("icao").isNotNull)
      .groupBy(col("icao"))
      .agg(count(lit(1)).as("n"), round(avg(col("spd")), 3).as("avg_spd"))
    val in = MemoryStream[String]
    val q = graft.streaming.StreamOps.toMemory(props(in.toDF().toDF("value")),
      "jp_smoke", OutputMode.Update,
      tempDir("jp-ckpt"))
    try {
      in.addData(lines.take(30))
      q.processAllAvailable()
      in.addData(lines.drop(30))
      q.processAllAvailable()
      // update mode re-emits changed keys; the freshest row per key is
      // the running total — compare against the one-shot batch agg
      val streamed = spark.table("jp_smoke")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("icao")
            .orderBy(col("n").desc)))
        .filter(col("rn") === 1).drop("rn")
        .as[(String, Long, Double)].collect().toSet
      val batch = props(lines.toDF("value")).as[(String, Long, Double)]
        .collect().toSet
      assert(streamed == batch)
      assert(streamed.size == 3)
    } finally q.stop()
  }
}
