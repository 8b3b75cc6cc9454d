package graft.tools

/** Dev tool: dump `.explain("formatted")` for a list of queries into
  * files — the plan evidence the optimization rounds commit under
  * `plans/<round>/<query>_<suffix>.txt`.
  *
  * Usage: runMain graft.tools.ExplainAll <outDir> <suffix> <q1> <q2> ...
  *
  * One JVM for the whole list (a JVM per query would pay ~20 s of
  * sbt+session startup each). Iterative driver-loop queries (bpe_learn,
  * wordpiece_learn) return a LocalRelation of collected rules — for
  * those this dumps the FIRST-ROUND statistics job's plan (the frame
  * the loop schedules K times), which is where their plan shape lives.
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession("graft-explain-all")
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def write(name: String, plan: String): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"wrote $name")
    }
    // `round:<engine>` pseudo-names dump ONE un-truncated iteration of
    // an iterative engine (the per-round frame the loop schedules K
    // times) — the returned frames of the gated queries are
    // checkpoint-rooted, so their own explain hides the round shape.
    import org.apache.spark.sql.functions._
    import graft.queries.AnalyticsQueries
    def roundFrame(engine: String): org.apache.spark.sql.DataFrame =
      engine match {
        case "ppr" => AnalyticsQueries.ppr(
          AnalyticsQueries.coBackbone(spark, sfDir),
          col("node") % AnalyticsQueries.BfsSeedMod === 0, 1)
        case "lpa" => AnalyticsQueries.lpa(
          AnalyticsQueries.coBackbone(spark, sfDir), 1)
        case other => sys.error(s"unknown round engine: $other")
      }
    names.foreach { name =>
      try {
        val df =
          if (name.startsWith("round:")) roundFrame(name.stripPrefix("round:"))
          else graft.SparkEntry.queries(name)(spark, sfDir)
        write(name.replace(':', '_'), df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch {
        case e: Throwable => println(s"FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
