package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[DriverGate]]: the one byte budget, the per-width row caps, and the
  * single bounded collect — read straight off an exchange-free input,
  * through one snapshot otherwise, and never through one in the
  * refusing form. */
class DriverGateSpec extends SparkSpec {
  import spark.implicits._

  private val Knob = "SPARK_GRAFT_DRIVER_BYTES"

  test("the budget: unset is 64 MiB, 0 is accepted, a negative or " +
      "malformed value throws naming SPARK_GRAFT_DRIVER_BYTES") {
    assert(DriverGate.budget(Map.empty) == 64L * 1024 * 1024)
    assert(DriverGate.budget(Map(Knob -> "0")) == 0L)
    assert(DriverGate.budget(Map(Knob -> " 1048576 ")) == 1048576L)
    Seq("-1", "abc", "64m", "1.5").foreach { v =>
      val e = intercept[IllegalArgumentException](
        DriverGate.budget(Map(Knob -> v)))
      assert(e.getMessage.contains(Knob), e.getMessage)
    }
  }

  test("a site's row cap is the budget divided by its row width") {
    Seq(DriverGate.PairBytes -> 16, DriverGate.TripleBytes -> 24,
        DriverGate.KmVectorBytes -> (8 + 4 * 64),
        DriverGate.ClassifierRowBytes -> 36, DriverGate.VocabRowBytes -> 100,
        DriverGate.LongBytes -> 8)
      .foreach { case (width, bytes) =>
        assert(width == bytes)
        assert(DriverGate.cap(width) == DriverGate.Budget / width)
      }
    assert(LocalGraph.MaxDriverPairs == DriverGate.Budget / 16)
    assert(SimilarityOps.KmDriverMaxVectors == DriverGate.Budget / 264)
  }

  private val pairs = (0L until 20L).map(i => (i % 7, i * 3))

  /** A one-file parquet (u, v) table of [[pairs]]: a scan, no exchange. */
  private lazy val scan: DataFrame = {
    val dir = suiteDir("driver-gate")
    pairs.toDF("u", "v").coalesce(1).write.parquet(s"$dir/pairs")
    spark.read.parquet(s"$dir/pairs")
  }

  private def gate(df: DataFrame, cap: Long,
      kernel: Array[(Long, Long)] => Option[Seq[(Long, Long)]] =
        p => Some(p.toSeq.sorted)) =
    DriverGate("spec", df, cap)(LocalGraph.pairOf)(kernel)

  /** Ids of the persisted RDDs not in `before` (a snapshot is one). */
  private def newlyPersisted(before: Set[Int]): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before

  private def persisted: Set[Int] = newlyPersisted(Set.empty)

  test("an exchange-free input: cap rows take the driver arm in one " +
      "job with no snapshot; cap + 1 rows and cap 0 return the input " +
      "itself for the fallback") {
    val in = scan // written and its schema read outside the counts
    val before = persisted
    val (atCap, atCapJobs) = countJobs(gate(in, pairs.size.toLong))
    assert(atCap == Right(pairs.sorted))
    assert(atCapJobs == 1, s"the driver arm ran $atCapJobs jobs")
    val (over, overJobs) = countJobs(gate(in, pairs.size - 1L))
    assert(over.left.exists(_ eq in), s"fallback frame: $over")
    assert(overJobs == 1, s"the over-cap collect ran $overJobs jobs")
    val (off, offJobs) = countJobs(gate(in, 0L))
    assert(off.left.exists(_ eq in) && offJobs == 0)
    assert(newlyPersisted(before).isEmpty,
      "no snapshot may be taken over a scan")
  }

  test("an input with an exchange: one snapshot, released on the driver " +
      "arm, handed to the fallback past the cap or on a kernel decline") {
    val agg = scan.groupBy("u").agg(max("v").as("v"))
    val want = pairs.groupBy(_._1).map { case (u, g) => (u, g.map(_._2).max) }
      .toSeq.sorted
    val before = persisted
    assert(gate(agg, want.size.toLong) == Right(want))
    assert(newlyPersisted(before).isEmpty,
      "the driver arm must release its snapshot")
    // past the cap, a kernel decline, and cap 0
    Seq(want.size - 1L -> true, want.size.toLong -> false, 0L -> true)
      .foreach { case (cap, answers) =>
        val snap = gate(agg, cap,
          if (answers) p => Some(p.toSeq) else _ => None).swap.toOption.get
        assert(snap.queryExecution.analyzed.isInstanceOf[LogicalRDD],
          "the fallback reads the snapshot")
        assert(newlyPersisted(before).size == 1,
          "the snapshot must stay live")
        assert(snap.as[(Long, Long)].collect().toSeq.sorted == want)
        DedupOps.releaseTruncated(snap)
        assert(newlyPersisted(before).isEmpty)
      }
  }

  test("the refusing form: cap rows come back in one job with no " +
      "snapshot, even over an exchange; cap + 1 rows throw naming the " +
      "site, the cap and the batch form; cap 0 throws without a job") {
    val in = scan // written and its schema read outside the counts
    def refusing(df: DataFrame, cap: Long) =
      DriverGate.collect("spec_model", df, cap, "SpecQueries.specForm")
    val before = persisted
    val (atCap, atCapJobs) = countJobs(refusing(in, pairs.size.toLong))
    assert(atCap.map(LocalGraph.pairOf).toSeq.sorted == pairs.sorted)
    assert(atCapJobs == 1, s"the bounded collect ran $atCapJobs jobs")
    Seq(pairs.size - 1L -> 1, 0L -> 0).foreach { case (cap, jobs) =>
      val (e, ran) = countJobs(
        intercept[IllegalArgumentException](refusing(in, cap)))
      assert(ran == jobs, s"cap $cap ran $ran jobs")
      Seq("spec_model", s"driver cap of $cap rows", "SpecQueries.specForm")
        .foreach(m => assert(e.getMessage.contains(m), e.getMessage))
    }
    val agg = scan.groupBy("u").agg(max("v").as("v"))
    assert(refusing(agg, 7L).length == 7)
    assert(newlyPersisted(before).isEmpty,
      "nothing falls back, so no snapshot may be taken")
  }
}
