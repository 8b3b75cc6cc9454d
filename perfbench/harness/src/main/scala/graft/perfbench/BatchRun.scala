package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Closed-loop batch passes with one client: every query of the list is
 * built through `SparkEntry.queries`, planned, and written to the `noop`
 * sink, one after another. Pass 0 writes each result to parquet instead,
 * untimed: it leaves the outputs the checker compares with the DuckDB
 * oracle. [[BatchRun.WarmPasses]] untimed passes into `noop` follow, so
 * that the JIT has compiled the hot paths of every query before the clock
 * starts (the pass time falls by about a quarter over the first four
 * passes of a fresh JVM). Timed passes follow until `seconds` have passed and at
 * least [[BatchRun.MinPasses]] passes were timed. The seed
 * permutes the query order of each pass. With a tracer, even passes are
 * traced and odd passes are not, so the two give the tracing overhead.
 */
final class BatchRun(spark: SparkSession, sfDir: String, queries: Seq[String],
    seed: Long, seconds: Double, timeoutSec: Long,
    outDir: String, tracer: Option[Tracer]) {
  private val sc = spark.sparkContext
  private val between = new Between(spark)

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  private def build(q: String): DataFrame = graft.SparkEntry.queries(q)(spark, sfDir)

  def run(): Map[String, Any] = {
    val checks = order(0).map { q =>
      between.settle()
      val t0 = Clock.nowMs
      val r = Guarded.run(sc, s"perfbench-check-$q", timeoutSec) {
        build(q).write.mode("overwrite").parquet(s"$outDir/results/$q")
      }
      Map("query" -> q, "ok" -> r.isRight, "error" -> r.left.toOption,
        "wall_s" -> (Clock.nowMs - t0) / 1e3)
    }
    val warmups = (1 to BatchRun.WarmPasses).flatMap { w =>
      order(-w).map { q =>
        between.settle()
        val r = Guarded.run(sc, s"perfbench-warm-$w-$q", timeoutSec) {
          build(q).write.format("noop").mode("overwrite").save()
        }
        Map("query" -> q, "ok" -> r.isRight, "error" -> r.left.toOption)
      }
    }
    val invocations = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var firstOpMs = Double.NaN
    var pass = 0
    while (pass < BatchRun.MinPasses || Clock.nowMs - firstOpMs < seconds * 1000) {
      pass += 1
      val tr = tracer.filter(_ => pass % 2 == 0)
      tr.foreach(t => sc.addSparkListener(t))
      val passId = tr.map(_.newId()).getOrElse(-1L)
      var passWall = 0.0
      val passStart = Clock.nowMs
      order(pass).foreach { q =>
        between.settle()
        val group = s"perfbench-$pass-$q"
        val qid = tr.map(_.newId()).getOrElse(-1L)
        tr.foreach(_.bindGroup(group, qid))
        val t = Array.fill(4)(Double.NaN)
        t(0) = Clock.nowMs
        if (firstOpMs.isNaN) firstOpMs = t(0)
        val r = Guarded.run(sc, group, timeoutSec) {
          val df = step(tr, "build", qid, 1, t)(build(q))
          step(tr, "plan", qid, 2, t)(df.queryExecution.executedPlan)
          step(tr, "action", qid, 3, t)(df.write.format("noop").mode("overwrite").save())
        }
        val end = Clock.nowMs
        passWall += end - t(0)
        tr.foreach(_.record(Span(qid, passId, "query", t(0), end,
          Map("query" -> q, "pass" -> pass, "ok" -> r.isRight))))
        def dur(i: Int) = if (t(i).isNaN || t(i - 1).isNaN) Double.NaN else (t(i) - t(i - 1)) / 1e3
        invocations += Map("pass" -> pass, "query" -> q, "start_ms" -> t(0), "end_ms" -> end,
          "wall_s" -> (end - t(0)) / 1e3, "build_s" -> dur(1), "plan_s" -> dur(2),
          "action_s" -> dur(3), "ok" -> r.isRight, "error" -> r.left.toOption)
      }
      tr.foreach { t =>
        between.settle()
        sc.removeSparkListener(t)
        t.record(Span(passId, 0L, "pass", passStart, Clock.nowMs, Map("pass" -> pass)))
      }
      passes += Map("pass" -> pass, "wall_s" -> passWall / 1e3, "traced" -> tr.isDefined,
        "start_ms" -> passStart, "end_ms" -> Clock.nowMs)
    }
    between.settle()
    Map("first_op_ms" -> firstOpMs, "checks" -> checks, "warmups" -> warmups,
      "invocations" -> invocations, "passes" -> passes) ++ between.summary
  }

  /** Run one layer call, stamp its end into `t(i)` and, when tracing,
   *  record it as a child span of the query invocation. */
  private def step[T](tr: Option[Tracer], name: String, parent: Long, i: Int,
      t: Array[Double])(body: => T): T = {
    val v = body
    t(i) = Clock.nowMs
    tr.foreach(x => x.record(Span(x.newId(), parent, name, t(i - 1), t(i), Map.empty)))
    v
  }
}

object BatchRun {
  val WarmPasses = 3
  val MinPasses = 3
}

/** What happens between two timed operations, outside every clock: the
 *  leak guard (no job of the previous operation may still be active),
 *  a listener drain, and a full GC whose live heap is recorded. */
final class Between(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  private var leaked = 0
  private var heapMaxMb = 0.0

  def settle(): Unit = {
    // the status store behind getActiveJobIds is filled from the listener
    // bus: only after a drain does a running job mean one that outlived
    // the operation that started it
    PerfbenchBridge.drainListeners(sc)
    if (sc.statusTracker.getActiveJobIds().nonEmpty) {
      leaked += 1
      val deadline = System.currentTimeMillis() + 30000
      while (sc.statusTracker.getActiveJobIds().nonEmpty &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(5)
        PerfbenchBridge.drainListeners(sc)
      }
    }
    System.gc()
    heapMaxMb = math.max(heapMaxMb, mem.getHeapMemoryUsage.getUsed / 1048576.0)
  }

  def summary: Map[String, Any] = Map("leaked_jobs" -> leaked, "live_heap_mb" -> heapMaxMb)
}

/** Run `body` on its own thread under a job group and a wall-clock cap;
 *  a timeout cancels the group. Left carries the failure. */
object Guarded {
  def run(sc: org.apache.spark.SparkContext, group: String, timeoutSec: Long)(
      body: => Unit): Either[String, Unit] = {
    @volatile var result: Either[String, Unit] = Left(s"timed out after ${timeoutSec}s")
    val worker = new Thread(() => {
      sc.setJobGroup(group, group, interruptOnCancel = true)
      try { body; result = Right(()) }
      catch { case e: Throwable => result = Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally sc.clearJobGroup()
    }, group)
    worker.setDaemon(true)
    worker.start()
    worker.join(timeoutSec * 1000)
    if (worker.isAlive) {
      sc.cancelJobGroup(group)
      worker.interrupt()
      worker.join(10000)
    }
    result
  }
}
