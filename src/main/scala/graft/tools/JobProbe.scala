package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev tool: warm-run named queries and report per-invocation job /
  * stage / task / shuffle-byte counts — the §1 measurement for
  * loop-shaped queries whose cost is scheduling, not any single plan.
  * Usage: runMain graft.tools.JobProbe <query> [query...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession("graft-job-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicLong
    val shufW = new AtomicLong
    val shufR = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    })
    def once(name: String): (Double, Int, Int, Long, Long, Long) = {
      jobs.set(0); stages.set(0); tasks.set(0); shufW.set(0); shufR.set(0)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // drain listener events so counts cover the whole invocation
      Thread.sleep(300)
      (sec, jobs.get, stages.get, tasks.get, shufW.get, shufR.get)
    }
    args.foreach { name =>
      once(name) // cold (uncounted)
      val runs = (1 to 3).map(_ => once(name))
      val med = runs.sortBy(_._1).apply(1)
      println(f"$name%-28s sec=${med._1}%7.3f jobs=${med._2}%4d " +
        f"stages=${med._3}%4d tasks=${med._4}%6d " +
        f"shufW=${med._5 / 1e6}%9.2fMB shufR=${med._6 / 1e6}%9.2fMB")
    }
    spark.stop()
  }
}
