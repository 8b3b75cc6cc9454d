package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.UnsupportedOperationChecker
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.ops.DedupOps
import graft.sources.{Generators, ThrottledSeqSource}
import graft.streaming.StreamOps

/** The live topology table: every entry builds over its own feed into a
  * plan Structured Streaming accepts for its output mode, the max-rate
  * probe measures exactly the table's names, and an entry's default
  * feed carries the records its parser expects. */
class TopologiesSpec extends SparkSpec {

  private val noOptions = Topologies.Options(Map.empty)

  /** The streamed frame and output mode of `form`. */
  private def streamed(form: Topologies.Form): (DataFrame, OutputMode) =
    form match {
      case Topologies.Streamed(df, mode) => (df, mode)
      case Topologies.PerTrigger(_, f) => (f.input, f.mode)
    }

  test("every entry builds over its own feed into a plan the streaming " +
      "checker accepts for its output mode (no query started)") {
    Topologies.table.foreach { case (name, entry) =>
      val (df, mode) = streamed(entry.build(spark,
        Generators.feedStream(spark, 1, entry.feed), noOptions))
      assert(df.isStreaming, s"$name does not stream")
      withClue(s"$name: ") {
        UnsupportedOperationChecker.checkForStreaming(
          df.queryExecution.analyzed, mode)
      }
    }
    assert(spark.streams.active.isEmpty)
  }

  test("the max-rate probe seeds exactly the table's names") {
    assert(tools.MaxRateProbe.Seeds.keySet == Topologies.table.keySet)
  }

  test("an unknown name lists the table") {
    val e = intercept[IllegalArgumentException](Topologies("no_such_topology"))
    assert(e.getMessage.contains("wordcount") && e.getMessage.contains("er_gate"),
      e.getMessage)
  }

  /** Rows with no NULL field that `name` emits over the first `n` lines
    * of `feed` and that pass `parsed`, in one trigger into the memory
    * sink (a line its parser cannot read comes out as NULL fields, as
    * the `no_latlng` zone, or not at all). */
  private def emitted(name: String, feed: Generators.Feed, parsed: Column,
      n: Int = 2000): Long = {
    val indexes = spark.readStream.format(classOf[ThrottledSeqSource].getName)
      .option("totalRows", n.toLong).load()
      .select(current_timestamp().as("ts"), col("value"))
    val (df, mode) = streamed(Topologies(name).build(spark,
      Generators.feedLines(indexes, feed), noOptions))
    val table = s"topo_${name}_${System.nanoTime()}"
    val q = StreamOps.toMemory(df, table, mode,
      tempDir("topo-spec"))
    try {
      q.processAllAvailable()
      spark.table(table).na.drop().filter(parsed).count()
    } finally q.stop()
  }

  Seq("dataclean" -> lit(true), "unique_visitor" -> lit(true),
      "rolling_geo_count" -> (col("zone") =!= "no_latlng"),
      "json_props" -> lit(true))
    .foreach { case (name, parsed) =>
      test(s"$name emits parsed rows from its default feed; the rand " +
          "digit pool parses to none") {
        assert(emitted(name, Topologies(name).feed, parsed) > 0)
        assert(emitted(name, Generators.randomMessageFeed, parsed) == 0)
      }
    }

  // the four demos that derive their fields from a content hash of the
  // line run over any --source, not only the row-index feed (a BIGINT
  // cast of the line failed every random message with CAST_INVALID_INPUT)
  Seq("corpus_report", "funnel", "anomaly_gate", "attrib_join").foreach { name =>
    test(s"$name runs a trigger over random messages and emits rows") {
      assert(emitted(name, Generators.randomMessageFeed, lit(true), n = 200) > 0)
    }
  }

  test("cluster_assign: each of two triggers over its own feed equals a " +
      "full connected-components recompute over the demo history and " +
      "that trigger's docs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val entry = Topologies("cluster_assign")
    def lines(indexes: DataFrame) = Generators.feedLines(
      indexes.select(current_timestamp().as("ts"), col("value")), entry.feed)
    def assignment(df: DataFrame): Map[Long, Long] = {
      val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(rows.map(_._1).distinct.length == rows.length,
        "one row per doc_id")
      rows.toMap
    }
    val hist = spark.read.parquet(s"${Topologies.DemoSfDir}/documents.parquet")
      .select(col("doc_id"), col("text"))
    def recompute(docs: DataFrame): Map[Long, Long] = {
      val all = hist.unionByName(docs)
      assignment(DedupOps.connectedComponents(
        DedupOps.minhashNearDups(all, col("doc_id"), col("text"), 0.5)
          .select("id1", "id2"),
        all.select(col("doc_id").as("id"))))
    }
    val in = MemoryStream[Long]
    val form = entry.build(spark, lines(in.toDF()), noOptions) match {
      case Topologies.PerTrigger(_, f) => f
      case other => fail(s"cluster_assign is a per-trigger form, got $other")
    }
    val emitted = scala.collection.mutable.Map[Long, Map[Long, Long]]()
    val q = form.start(tempDir("graft-topo-ca")) { (df, id) =>
      emitted(id) = assignment(df)
    }
    try {
      Seq(0L until 400L, 400L until 800L).zipWithIndex.foreach {
        case (idx, t) =>
          in.addData(idx)
          q.processAllAvailable()
          val docs = lines(idx.toDF("value"))
            .select(xxhash64(col("value")).as("doc_id"), col("value").as("text"))
          val want = recompute(docs)
          assert(emitted(t.toLong) == want, s"trigger $t")
          // the feed's near-dup families put trigger docs into shared
          // clusters, so the check is not over singletons only
          val ids = docs.select("doc_id").as[Long].collect().toSet
          assert(want.filter(e => ids(e._1)).values.groupBy(identity)
            .exists(_._2.size > 1), s"trigger $t: no multi-doc cluster")
      }
      assert(emitted.keySet == Set(0L, 1L))
    } finally q.stop()
  }
}
