package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.UnsupportedOperationChecker
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

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
      Files.createTempDirectory("topo-spec").toString)
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
}
