package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Gate-honesty checks for the sketch queries: the heavy-hitters oracle
 * must stay correct when the data has MORE distinct types than the
 * sketch's k — the driver's testdata happens to have exactly 5 event
 * types, which would mask a missing top-k guard in the oracle
 * (VERDICT r6 "what's wrong" #1).
 *
 * The oracle SQL is ANSI enough to run on Spark itself, so the spec
 * executes it verbatim against a 7-type fixture and compares with the
 * sketch query — the same cross-engine contract the driver checks via
 * DuckDB, minus the engine swap.
 */
class SketchQueriesSpec extends SparkSpec {

  /** events.parquet fixture with 7 event types at distinct frequencies
   *  (no count ties -> fully deterministic rank order). ts is written as
   *  long nanos, matching the driver parquet that Tables.events decodes. */
  private lazy val fixtureDir: String = {
    val dir = suiteDir("sketch-fixture")
    val sp = spark
    import sp.implicits._
    val rows = for {
      t <- 0 until 7
      i <- 0 until (100 - 10 * t) // type_0 x100 ... type_6 x40
    } yield (1700000000000000000L + i * 1000000L, (t * 1000 + i).toLong,
      i.toLong % 50, s"type_$t", i.toDouble)
    rows.toDF("ts", "event_id", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("heavyHitters returns exactly k=5 rows with 7 distinct types") {
    val got = SketchQueries.heavyHitters(spark, fixtureDir)
      .orderBy("rank").collect()
    assert(got.length == 5)
    assert(got.map(_.getString(1)).toSeq ==
      (0 until 5).map(i => s"type_$i"))
    assert(got.map(_.getLong(2)).toSeq == Seq(100L, 90L, 80L, 70L, 60L))
  }

  test("heavyHitters oracle agrees with the sketch query beyond 5 types") {
    graft.model.Tables.events(spark, fixtureDir)
      .createOrReplaceTempView("events")
    val oracle = spark.sql(Oracles.heavyHitters)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val sketch = SketchQueries.heavyHitters(spark, fixtureDir)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(oracle.toSeq == sketch.toSeq)
  }

  test("heavyHitters and heavyUsers plan no window function") {
    Seq(SketchQueries.heavyHitters(spark, fixtureDir),
      SketchQueries.heavyUsers(spark, fixtureDir)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"window exec leaked into:\n$plan")
    }
  }
}
