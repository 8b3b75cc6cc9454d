package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.PageViewOps

class GeneratorsSpec extends SparkSpec {
  import spark.implicits._

  test("pageViewLine matches reference distributions and parses cleanly") {
    val n = 20000
    val lines = spark.range(n).select(Generators.pageViewLine(col("id")).as("page_view"))
    val parsed = PageViewOps.parse(lines, col("page_view"))
    assert(parsed.count() == n) // every generated line parses
    val urlShare = parsed.filter($"url" === "http://foo.com").count().toDouble / n
    assert(math.abs(urlShare - 0.7) < 0.02, s"foo.com share $urlShare")
    val okShare = parsed.filter($"http_status" === 200).count().toDouble / n
    assert(math.abs(okShare - 0.95) < 0.01)
    val users = parsed.select("user_id").distinct().as[Int].collect()
    assert(users.min >= 0 && users.max < 100)
  }

  test("pageViewLine is deterministic per index") {
    val a = spark.range(50).select(Generators.pageViewLine(col("id"))).as[String].collect()
    val b = spark.range(50).select(Generators.pageViewLine(col("id"))).as[String].collect()
    assert(a.toSeq == b.toSeq)
  }

  test("randomMessage draws fixed-size digit strings from a 100-pool") {
    val msgs = spark.range(300)
      .select(Generators.randomMessage(col("id"), 50)).as[String].collect()
    assert(msgs.forall(m => m.length == 50 && m.forall(_.isDigit)))
    assert(msgs.distinct.length == 100) // pool cycles
    assert(msgs(0) == msgs(100) && msgs(7) == msgs(207)) // idx % 100
  }

  test("indexedLines + cyclic replay indexing") {
    val f = Files.createTempFile("graft-lines", ".txt")
    try {
      Files.writeString(f, "line a\nline b\nline c\n")
      val lines = Generators.indexedLines(spark, f.toString)
      val m = lines.as[(Long, String)].collect().toMap
      assert(m == Map(0L -> "line a", 1L -> "line b", 2L -> "line c"))
    } finally Files.deleteIfExists(f)
  }
}
