package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec
import graft.model.{AdsbPosition, ProximityWarning}
import graft.queries.BenchQueries.{DistThresholdKm, SpecSteps, SpecStepSec}

/**
 * SURVEY §7.4.3's decide-by-test for the continuous proximity join:
 * replay the same fixture through the per-trigger snapshot path
 * (`StreamOps.proximityWarnings`, foreachBatch self-join) and the
 * per-event incremental path (`StreamOps.proximityWarningsPerEvent`,
 * flatMapGroupsWithState over the latest-position map —
 * DistFilterBolt's actual interleaving, RollingFlightDist.java:213-256)
 * and compare warning sets.
 *
 * Expected relationship, asserted below: for each pair the per-event
 * path compares the pair's FRESHEST two reports exactly when the
 * snapshot path does (the later arrival sees the earlier one's final
 * position), so snapshot warnings are a SUBSET of per-event warnings;
 * the per-event extras are finer interleavings (a new report against a
 * neighbor's not-yet-updated position) that the snapshot path coarsens
 * away. On a one-report-per-aircraft replay the two are exactly equal.
 * Verdict: per-event wins (strictly more faithful, never loses a
 * warning) — it is `rolling_flight_dist`'s streaming default.
 */
class ProximityFidelitySpec extends SparkSpec {
  import spark.implicits._

  // A and B fly ~2.2 km apart (warn at every speculative step); C is
  // ~111 km north (never warns). 100 kn ~ 0.051 km/s keeps projections
  // small against the 10 km threshold.
  private val t0 = 1700000000000L
  private def trigger1 = Seq(
    AdsbPosition("100", t0 + 1000, 40.50, -73.50, 100.0, 0.0),
    AdsbPosition("200", t0 + 2000, 40.52, -73.50, 100.0, 0.0),
    AdsbPosition("300", t0 + 3000, 41.50, -73.50, 100.0, 0.0))
  private def trigger2 = Seq(
    AdsbPosition("100", t0 + 11000, 40.51, -73.49, 100.0, 0.0),
    AdsbPosition("200", t0 + 12000, 40.53, -73.50, 100.0, 0.0),
    AdsbPosition("300", t0 + 13000, 41.50, -73.49, 100.0, 0.0))

  private type Warning = (String, String, Int, Long, Double)

  /** Replay triggers through the per-event path; returns the warning
   *  set after each trigger (cumulative). */
  private def runPerEvent(triggers: Seq[Seq[AdsbPosition]], shards: Int,
      strict: Boolean): Seq[Set[Warning]] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[AdsbPosition]
    val name = s"prox_pe_${shards}_${strict}_${System.nanoTime()}"
    val q = StreamOps.toMemory(
      StreamOps.proximityWarningsPerEvent(in.toDS(), DistThresholdKm,
        SpecSteps, SpecStepSec, shards, strict).toDF(),
      name, OutputMode.Append,
      tempDir("prox-pe-ckpt"))
    try triggers.map { batch =>
      in.addData(batch)
      q.processAllAvailable()
      spark.table(name).as[ProximityWarning].collect()
        .map(w => (w.icao1, w.icao2, w.step, w.curr_time, w.dist_r)).toSet
    } finally q.stop()
  }

  /** Replay triggers through the snapshot path; returns the distinct
   *  warning set seen up to and including each trigger. (The snapshot
   *  path re-emits the current state's pairs every trigger, so the
   *  per-batch outputs are deduped into cumulative sets.) */
  private def runSnapshot(triggers: Seq[Seq[AdsbPosition]]): Seq[Set[Warning]] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[AdsbPosition]
    val seen = ArrayBuffer.empty[Warning]
    val q = StreamOps.proximityWarnings(in.toDS(), DistThresholdKm,
      SpecSteps, SpecStepSec,
      tempDir("prox-snap-state")).start(
      tempDir("prox-snap-ckpt"),
      Trigger.ProcessingTime("1 second")) { (warnings, _) =>
      val rows = warnings.collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2),
          r.getLong(3), r.getDouble(4)))
      seen.synchronized { seen ++= rows; () }
    }
    try triggers.map { batch =>
      in.addData(batch)
      q.processAllAvailable()
      seen.synchronized(seen.toSet)
    } finally q.stop()
  }

  test("decide-by-test: per-event warnings subsume the snapshot path's; " +
      "equal on a one-report-per-aircraft replay") {
    val perEvent = runPerEvent(Seq(trigger1, trigger2), shards = 1, strict = false)
    val snapshot = runSnapshot(Seq(trigger1, trigger2))

    // single replayed trigger, one report per aircraft: exactly equal
    assert(perEvent.head.nonEmpty, "fixture produced no warnings")
    assert(perEvent.head == snapshot.head,
      s"single-trigger sets differ: ${perEvent.head} vs ${snapshot.head}")

    // full replay: every snapshot warning is a per-event warning...
    assert(snapshot.last.subsetOf(perEvent.last),
      s"snapshot warned pairs the per-event path missed: " +
        s"${snapshot.last.diff(perEvent.last)}")
    // ...and both warn the same aircraft pairs (A-B only, never C)
    def pairs(ws: Set[Warning]) = ws.map(w => (w._1, w._2))
    assert(pairs(perEvent.last) == pairs(snapshot.last))
    assert(pairs(perEvent.last) == Set(("100", "200")))
    // the per-event extras are the finer interleaving: trigger 2's new
    // "100" report against "200"'s trigger-1 position
    assert(perEvent.last.size > snapshot.last.size)
  }

  test("relaxed sharding is shard-count-invariant") {
    val one = runPerEvent(Seq(trigger1, trigger2), shards = 1, strict = false)
    val three = runPerEvent(Seq(trigger1, trigger2), shards = 3, strict = false)
    assert(one.last == three.last)
  }

  test("per-event state survives a checkpointed restart " +
      "(same warnings as an uninterrupted run)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("prox-restart-ckpt")
    val seen = ArrayBuffer.empty[Warning]
    // memory sink can't recover a checkpoint; foreachBatch can
    def start(in: MemoryStream[AdsbPosition]) =
      StreamOps.proximityWarningsPerEvent(in.toDS(), DistThresholdKm,
        SpecSteps, SpecStepSec).toDF()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = batch.collect().map(r => (r.getString(0), r.getString(1),
            r.getInt(2), r.getLong(3), r.getDouble(4)))
          seen.synchronized { seen ++= rows; () }
        }.start()
    // trigger 1, then STOP — the latest-position maps live only in the
    // state store now
    val in1 = MemoryStream[AdsbPosition]
    val q1 = start(in1)
    try { in1.addData(trigger1); q1.processAllAvailable() } finally q1.stop()
    // a FRESH source seeded so the recovered query re-reads batch 0's
    // data (MemoryStream offsets restart at 0; real sources replay by
    // offset) — then trigger 2 against the RECOVERED state
    val in2 = MemoryStream[AdsbPosition]
    in2.addData(trigger1)
    val q2 = start(in2)
    val restarted = try {
      in2.addData(trigger2)
      q2.processAllAvailable()
      seen.synchronized(seen.toSet)
    } finally q2.stop()
    val uninterrupted = runPerEvent(Seq(trigger1, trigger2),
      shards = 1, strict = false).last
    assert(restarted == uninterrupted,
      s"restart diverged: ${restarted.diff(uninterrupted)} / " +
        s"${uninterrupted.diff(restarted)}")
  }

  test("silence TTL: a stale aircraft is invisible to comparisons and " +
      "physically evicted; ttl=MaxValue reproduces retain-forever") {
    import graft.model.{FlightState, ShardedReport}
    // default TTL resolves to the speculative horizon
    val ttlMs = StreamOps.resolveTtlMs(-1L, SpecSteps, SpecStepSec)
    assert(ttlMs == SpecSteps.toLong * SpecStepSec * 1000L)
    // "100"'s last fix; "200" arrives one step past the horizon, 2.2 km
    // away — would warn at every speculative step without the TTL
    val st0 = Map("100" -> FlightState(t0, 40.50, -73.50, 0.051, 0.0))
    val late = ShardedReport(0, owned = true, "200", t0 + ttlMs + 1000,
      40.52, -73.50, 0.051, 0.0)
    val (st, warns) = StreamOps.processShardBatch(st0, Seq(late),
      DistThresholdKm, SpecSteps, SpecStepSec, strictSharding = false, ttlMs)
    assert(warns.isEmpty, s"stale fix must be invisible, got $warns")
    assert(!st.contains("100"), "eviction must fire at the high-water mark")
    assert(st.contains("200"), "the fresh arrival must be installed")
    // opt-out: ttl = MaxValue keeps the reference's retain-forever
    // semantics (and must not overflow the difference comparisons)
    val keepMs = StreamOps.resolveTtlMs(Long.MaxValue, SpecSteps, SpecStepSec)
    val (stAll, warnsAll) = StreamOps.processShardBatch(st0, Seq(late),
      DistThresholdKm, SpecSteps, SpecStepSec, strictSharding = false, keepMs)
    assert(warnsAll.nonEmpty, "retain-forever must still warn")
    assert(stAll.contains("100") && stAll.contains("200"))
    // an aircraft silent exactly AT the horizon stays (strict >)
    val atEdge = ShardedReport(0, owned = true, "200", t0 + ttlMs,
      40.52, -73.50, 0.051, 0.0)
    val (stEdge, warnsEdge) = StreamOps.processShardBatch(st0, Seq(atEdge),
      DistThresholdKm, SpecSteps, SpecStepSec, strictSharding = false, ttlMs)
    assert(stEdge.contains("100") && warnsEdge.nonEmpty)
  }

  test("silence TTL evicts through both streaming formulations: a " +
      "beyond-horizon arrival yields no warning against the stale fleet") {
    implicit val sqlCtx = spark.sqlContext
    val horizonMs = SpecSteps.toLong * SpecStepSec * 1000L
    // trigger 3 arrives one full horizon past trigger 1's fixes: every
    // stored aircraft is stale by then, so nothing may warn, and the
    // stale entries must not linger in state
    val lateTrigger = Seq(
      AdsbPosition("100", t0 + horizonMs + 20000, 40.50, -73.50, 100.0, 0.0))
    val withTtl = runPerEvent(Seq(trigger1, lateTrigger), shards = 1,
      strict = false)
    // trigger 1's own warnings still fire; the late arrival adds NONE
    assert(withTtl.head.nonEmpty)
    assert(withTtl.last == withTtl.head,
      s"stale comparisons leaked: ${withTtl.last.diff(withTtl.head)}")
  }

  test("strict sharding reproduces the reference blind spot: " +
      "single-task deployment emits nothing") {
    // DistFilterBolt only compares NON-owned arrivals against its owned
    // map (RollingFlightDist.java:213-222); with one task everything is
    // owned, so the reference topology at parallelism 1 never warns —
    // the documented reason the relaxed mode is the default
    val strict = runPerEvent(Seq(trigger1, trigger2), shards = 1, strict = true)
    assert(strict.last.isEmpty)
  }
}
