package graft.queries

import graft.SparkSpec

/** [[AnalyticsQueries.scd2Build]] / [[AnalyticsQueries.cdcApply]] —
  * the warehouse-maintenance pair: SCD2 interval invariants and CDC
  * reconciliation identities on the smoke data. */
class WarehouseOpsSpec extends SparkSpec {

  private val sfd = "/root/testdata/sf0.001"

  test("scd2Build: per user the intervals tile the axis from the " +
      "first event to the open sentinel — no gaps, no overlaps, no " +
      "consecutive equal states, exactly one current row") {
    val rows = AnalyticsQueries.scd2Build(spark, sfd).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (u, ivs) =>
      val s = ivs.sortBy(_._3)
      s.foreach { iv => assert(iv._3 < iv._4, s"user $u empty interval $iv") }
      s.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 == b._3, s"user $u gap/overlap: $a then $b")
          assert(a._2 != b._2, s"user $u un-collapsed equal states: $a $b")
        case _ => ()
      }
      assert(s.last._4 == Long.MaxValue && s.last._5,
        s"user $u last interval must be the open current one")
      assert(s.count(_._5) == 1, s"user $u must have ONE current row")
    }
    // collapse really happened: strictly fewer intervals than events
    val nEvents = spark.read.parquet(s"$sfd/events.parquet").count()
    assert(rows.length < nEvents,
      s"no run collapsed: ${rows.length} intervals from $nEvents events")
  }

  test("cdcApply: reconciliation identities — tombstoned keys gone, " +
      "updated keys all 'X' with the exact reprice, inserts counted, " +
      "row total = snapshot - deletes + inserts") {
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$sfd/orders.parquet")
    val nSnap = orders.count()
    val nDel = orders.filter(col("o_orderkey") % 13 === 0).count()
    val nUpd = orders.filter(col("o_orderkey") % 13 =!= 0 &&
      col("o_orderkey") % 7 === 0).count()
    val nIns = orders.filter(col("o_orderkey") % 97 === 0).count()
    val out = AnalyticsQueries.cdcApply(spark, sfd).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(out("N")._1 == nIns, s"insert count: ${out.get("N")} vs $nIns")
    assert(out("N")._2 < 0,
      s"insert keys must live in the disjoint negated keyspace: $out")
    assert(out("X")._1 == nUpd, s"update count: ${out.get("X")} vs $nUpd")
    assert(out.values.map(_._1).sum == nSnap - nDel + nIns,
      s"row conservation failed: $out")
    // the reprice is decimal-exact: X price sum == original sum of
    // those keys + 10.00 * nUpd
    val base = orders.filter(col("o_orderkey") % 13 =!= 0 &&
        col("o_orderkey") % 7 === 0)
      .agg(sum(col("o_totalprice").cast("decimal(14,2)")).cast("double"))
      .collect()(0).getDouble(0)
    assert(math.abs(out("X")._3 - (base + 10.0 * nUpd)) < 1e-6,
      s"reprice drifted: ${out("X")._3} vs ${base + 10.0 * nUpd}")
    // no surviving status carries a tombstoned key: key sums of the
    // untouched statuses equal the snapshot's key sums minus deleted
    // and updated keys
    val untouchedWant = orders
      .filter(col("o_orderkey") % 13 =!= 0 && col("o_orderkey") % 7 =!= 0)
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("o_orderkey")).as("ks")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    untouchedWant.foreach { case (st, ks) =>
      assert(out(st)._2 == ks, s"status $st key sum: ${out(st)._2} vs $ks")
    }
  }

  /** The former resampleLocf formulation, verbatim, as the reference:
   *  dense grid LEFT-joined to the hourly relation, filled by a running
   *  last(ignoreNulls) window — the oracle's last_value(hv IGNORE NULLS). */
  private def locfReference(
      events: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Option[Double])] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val hourly = events
      .withColumn("h", date_trunc("hour", col("ts")))
      .groupBy(col("user_id"), col("h"))
      .agg((sum(col("value").cast("decimal(14,2)")).cast("double") /
        count(lit(1))).as("hv"))
    val grid = hourly.groupBy("user_id")
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("h"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, 0)
    locfRows(grid.join(hourly, Seq("user_id", "h"), "left")
      .select(col("user_id"), unix_millis(col("h")).as("h_ms"),
        round(last(col("hv"), ignoreNulls = true).over(w), 4).as("v_ff")))
  }

  private def locfRows(
      df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Option[Double])] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(r => (r._1, r._2)).toSeq

  test("resampleLocf: the row-local segment expansion reproduces the " +
      "dense-grid join + running last(ignoreNulls) window reference " +
      "bit for bit — grid coverage, LOCF fill, gap-heavy users, " +
      "single-observation users") {
    val events = graft.model.Tables.events(spark, sfd)
    val want = locfReference(events)
    val got = locfRows(AnalyticsQueries.resampleLocf(events))
    assert(got.size == want.size, s"${got.size} rows vs ${want.size}")
    assert(got == want,
      s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
    // non-vacuity: the fill genuinely fires — some grid hour carries a
    // value from an EARLIER hour (a gap), so segments longer than one
    // hour exist on this fixture
    val perUser = got.groupBy(_._1)
    assert(perUser.exists { case (_, rows) => rows.size > 1 &&
      rows.map(_._3).distinct.size < rows.size })
  }

  test("resampleLocf: an hour whose values are all NULL carries the " +
      "last non-NULL hourly value forward, as the reference does") {
    import spark.implicits._
    val t0 = 1704067200000L + 600000L // 2024-01-01T00:10Z
    def at(hours: Int, min: Int) =
      new java.sql.Timestamp(t0 + hours * 3600000L + min * 60000L)
    val events = Seq[(Long, java.sql.Timestamp, Option[Double])](
      // user 1: leading all-NULL hour, a value, a gap, an all-NULL hour
      // mid-run, a gap, a value, a trailing all-NULL hour
      (1L, at(0, 0), None), (1L, at(0, 5), None),
      (1L, at(1, 0), Some(2.5)),
      (1L, at(4, 0), None),
      (1L, at(7, 0), Some(1.25)), (1L, at(7, 9), Some(0.75)),
      (1L, at(8, 0), None),
      // user 2: every value NULL
      (2L, at(0, 0), None), (2L, at(3, 0), None),
      // user 3: an hour mixing NULL and non-NULL values (count(*) counts
      // the NULL row), then an all-NULL hour after a gap
      (3L, at(0, 0), Some(3.0)), (3L, at(0, 1), None),
      (3L, at(2, 0), None),
      // user 4: a single observation
      (4L, at(5, 0), Some(9.99)))
      .toDF("user_id", "ts", "value")
    val want = locfReference(events)
    val got = locfRows(AnalyticsQueries.resampleLocf(events))
    assert(got == want,
      s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
    // non-vacuity: NULL hours are filled, leading ones stay NULL
    val u1 = got.filter(_._1 == 1L).map(_._3)
    assert(u1 == Seq(None, Some(2.5), Some(2.5), Some(2.5), Some(2.5),
      Some(2.5), Some(2.5), Some(1.0), Some(1.0)))
    assert(got.filter(_._1 == 2L).map(_._3) == Seq(None, None, None, None))
  }
}
